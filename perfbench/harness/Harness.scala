package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SharedFrames, Tables}
import graft.ingest.Ingest
import graft.model.{Form990, Ipeds}
import graft.ops.{Merge, Panel}
import graft.queries._

/** Runs one workload in this JVM and writes `result.json` to `--out`.
  *
  * The harness only calls the engine's public functions: it times each
  * call, tags it with `setJobGroup`, and reads Spark's job, stage and task
  * counters through listeners it registers itself. Every operation
  * materializes its whole result inside its timed window (a parquet write
  * for query results and pipeline outputs, the noop sink for shared
  * frames, which are persisted intermediates). An operation that throws a
  * non-fatal error is recorded as failed; a fatal error ends the JVM.
  *
  *   Harness --workload W --data DIR --out DIR --seconds S --trace 0|1
  *           [--setup-reps N] [--ops a,b,...|all] [--extra-ops a,b,...]
  *           [--fail-op NAME] [--sink write|count] [--seed N]
  */
object Harness {

  final case class Conf(workload: String, data: String, out: String,
                        seconds: Double, trace: Boolean, setupReps: Int,
                        ops: Option[Set[String]], extraOps: Set[String],
                        failOp: Option[String], seed: Long, countOnly: Boolean) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val known = Set("workload", "data", "out", "seconds", "trace", "setup-reps",
      "ops", "extra-ops", "fail-op", "seed", "sink")
    def list(k: String): Option[Seq[String]] =
      m.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    require((m.keySet -- known).isEmpty, s"unknown options: ${(m.keySet -- known).mkString(", ")}")
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.names.contains(w), s"unknown workload '$w'")
    Conf(w, m("data"), m("out"), m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("setup-reps", "3").toInt,
      list("ops").filter(_ != Seq("all")).map(_.toSet), list("extra-ops").getOrElse(Nil).toSet,
      m.get("fail-op"), m.getOrElse("seed", "0").toLong, m.get("sink").contains("count"))
  }

  /** One timed operation: `build` constructs the frame (eager actions a
    * query runs while being built count here), `sink` materializes it. */
  final case class Op(name: String, family: String, kind: String,
                      build: (SparkSession, Int) => DataFrame,
                      sink: (DataFrame, Int) => Unit)

  final case class OpRec(name: String, family: String, kind: String, round: Int,
                         group: String, startMs: Double, sinkStartMs: Double,
                         endMs: Double, buildS: Double, wallS: Double,
                         status: String, error: String)

  private def now(): Double = System.currentTimeMillis().toDouble

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.installOptimizations(spark)
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes held by every persisted RDD of the session, memory plus disk. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    new File(c.out).mkdirs()
    val runId = s"${c.workload}-${c.seed}-${ProcessHandle.current().pid()}"
    val spans = new Spans(c.trace, runId)
    val runSpan = spans.open("run", None)
    val queryWorkload = c.workload != "scoring_pipeline"

    // set-up, several times; the last session is kept for the timed part
    val setupS = ArrayBuffer[Double]()
    val cacheBuildS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var groups: GroupListener = null
    var plans: PlanListener = null
    for (rep <- 1 to c.setupReps) {
      if (spark != null) {
        SharedFrames.clear()
        Tables.cacheScans = false
        spark.stop()
      }
      val sp = spans.open(s"setup#$rep", Some(runSpan))
      val t0 = System.nanoTime()
      spark = session(c)
      groups = new GroupListener
      spark.sparkContext.addSparkListener(groups)
      plans = new PlanListener
      if (c.trace) spark.listenerManager.register(plans)
      spark.sparkContext.setJobGroup(s"setup#$rep", "setup", interruptOnCancel = false)
      if (queryWorkload) {
        val t1 = System.nanoTime()
        Tables.cacheScans = true
        Tables.names.foreach(n => noop(Tables.t(spark, c.data, n)))
        cacheBuildS += secsSince(t1)
      }
      setupS += secsSince(t0)
      spark.sparkContext.clearJobGroup()
      spans.close(sp)
    }
    PerfbenchBus.drain(spark.sparkContext)
    val tablesCacheBytes = cachedBytes(spark)

    val ops = Workloads.ops(c)
    val recs = ArrayBuffer[OpRec]()
    val roundWall = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var round = 0
    var sharedCacheBytes = 0L
    while (round == 0 || secsSince(t0) < c.seconds) {
      round += 1
      SharedFrames.clearDerived()
      val rs = spans.open(s"round#$round", Some(runSpan))
      val r0 = System.nanoTime()
      ops.foreach(op => recs += runOp(spark, c, op, round, spans, rs))
      roundWall += secsSince(r0)
      spans.close(rs)
      if (round == 1) {
        PerfbenchBus.drain(spark.sparkContext)
        sharedCacheBytes = cachedBytes(spark) - tablesCacheBytes
      }
    }
    // traced extras, after the timed section so they never touch it: the
    // named heavy queries and shared frames outside the timed subset run
    // once as "round 0", then the layer probes
    if (c.trace && c.extraOps.nonEmpty) {
      SharedFrames.clearDerived()
      val rs = spans.open("extras", Some(runSpan))
      Workloads.ops(c.copy(ops = Some(c.extraOps)))
        .foreach(op => recs += runOp(spark, c, op, 0, spans, rs))
      spans.close(rs)
    }
    PerfbenchBus.drain(spark.sparkContext)
    val timed = groups.snapshot
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    if (c.trace) {
      spark.sparkContext.setJobGroup("trace", "traced extras", interruptOnCancel = false)
      if (queryWorkload) extra ++= Kernels.measure(spark, c, spans, runSpan)
      else extra ++= Workloads.pipelineStages(spark, c, round, spans, runSpan)
    }
    PerfbenchBus.drain(spark.sparkContext)
    spans.close(runSpan)

    val json = Json.obj(
      "workload" -> c.workload,
      "run_id" -> runId,
      "cpus" -> c.cpus,
      "setup_s" -> setupS.toSeq,
      "tables_cache_build_s" -> cacheBuildS.toSeq,
      "tables_cache_bytes" -> tablesCacheBytes,
      "shared_cache_bytes" -> sharedCacheBytes,
      "round_wall_s" -> roundWall.toSeq,
      "ops" -> recs.toSeq.map(r => Json.obj(
        "name" -> r.name, "family" -> r.family, "kind" -> r.kind,
        "round" -> r.round, "group" -> r.group, "start_ms" -> r.startMs,
        "sink_start_ms" -> r.sinkStartMs, "end_ms" -> r.endMs,
        "build_s" -> r.buildS, "wall_s" -> r.wallS, "status" -> r.status,
        "error" -> r.error)),
      "groups" -> timed.toSeq.sortBy(_._1).map { case (g, s) => Json.obj(
        "group" -> g, "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "task_ms" -> s.taskMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
        "peak_exec_mem" -> s.peakExecMem) },
      "plans" -> (if (c.trace) plans.records.map(p => Json.obj(
        "start_ms" -> p.startMs, "plan_ms" -> p.planMs)) else Seq.empty),
      "oracle_sql" -> (if (queryWorkload) Workloads.oracleFor(recs.map(_.name).toSeq) else Map.empty[String, String]),
      "extra" -> extra.toSeq,
      "spans" -> spans.all)
    Files.write(Paths.get(c.out, "result.json"), Json.render(json).getBytes(StandardCharsets.UTF_8))
    SharedFrames.clear()
    Tables.cacheScans = false
    spark.stop()
  }

  def runOp(spark: SparkSession, c: Conf, op: Op, round: Int, spans: Spans,
            parent: Int): OpRec = {
    val sc = spark.sparkContext
    val group = s"r$round/${op.name}"
    sc.setJobGroup(group, op.name, interruptOnCancel = false)
    val span = spans.open(op.name, Some(parent))
    val start = now()
    val t0 = System.nanoTime()
    var sinkStart = start
    var buildS = 0.0
    val (status, error) =
      try {
        val bs = spans.open("build", Some(span))
        if (c.failOp.contains(op.name)) throw new RuntimeException("forced failure")
        val df = op.build(spark, round)
        buildS = secsSince(t0)
        spans.close(bs)
        sinkStart = now()
        val ss = spans.open("sink", Some(span))
        op.sink(df, round)
        spans.close(ss)
        ("ok", "")
      } catch {
        case NonFatal(e) =>
          ("failed", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.clearJobGroup()
    val wall = secsSince(t0)
    spans.close(span)
    OpRec(op.name, op.family, op.kind, round, group, start, sinkStart, now(),
      buildS, wall, status, error)
  }
}

/** The three workloads' operation lists. */
object Workloads {
  val names = Seq("scoring_pipeline", "query_families")

  val tableGroups: Seq[QueryGroup] = Seq(CoreQueries, RelationalQueries,
    PanelQueries, EngineQueries, EventsQueries, SamplingQueries)
  val corpusGroups: Seq[QueryGroup] = Seq(TextQueries, DedupQueries,
    SimilarityQueries, CorpusQueries, TokenizerQueries)

  def familyName(g: QueryGroup): String =
    g.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries")

  def ops(c: Harness.Conf): Seq[Harness.Op] = c.workload match {
    case "scoring_pipeline" => pipeline(c)
    case "query_families" => queryOps(c, tableGroups ++ corpusGroups)
  }

  private var opGroups: Seq[(String, QueryGroup)] = Seq.empty

  /** Shared frames first (declaration order is dependency order), then
    * the queries, group by group. */
  def queryOps(c: Harness.Conf, groups: Seq[QueryGroup]): Seq[Harness.Op] = {
    val keep: String => Boolean = n => c.ops.forall(_.contains(n))
    val all = groups.flatMap { g =>
      val fam = familyName(g)
      val shared = g.shared.filter(s => keep(s._1)).map { case (n, fn) =>
        Harness.Op(n, fam, "shared", (s, _) => fn(s, c.data), (df, _) => Harness.noop(df))
      }
      val queries = g.queries.toSeq.sortBy(_._1).filter(q => keep(q._1)).map { case (n, fn) =>
        opGroups :+= n -> g
        // `--sink count` reproduces the old count()-based timing, which
        // lets column pruning skip work; comparison only, never checked
        Harness.Op(n, fam, "query", (s, _) => fn(s, c.data),
          if (c.countOnly) (df, _) => { df.count(); () }
          else (df, r) => df.write.mode("overwrite").parquet(s"${c.out}/r$r/$n"))
      }
      shared ++ queries
    }
    c.ops.foreach { want =>
      val unknown = want -- all.map(_.name)
      require(unknown.isEmpty, s"unknown operations: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    all
  }

  def oracleFor(names: Seq[String]): Map[String, String] = {
    val byName = opGroups.toMap
    names.flatMap(n => byName.get(n).flatMap(_.oracle.get(n)).map(n -> _)).toMap
  }

  // ---- scoring_pipeline -------------------------------------------------

  private def years(dir: String, prefix: String): Seq[(Int, String)] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .map(_.getName).filter(n => n.startsWith(prefix) && n.endsWith(".csv"))
      .map(n => n.stripPrefix(prefix).stripSuffix(".csv").toInt -> s"$dir/$n")
      .sortBy(_._1)

  private def read990(s: SparkSession, c: Harness.Conf, kind: String): DataFrame = {
    val ys = years(s"${c.data}/990", s"${kind}_")
    require(ys.nonEmpty, s"no ${kind}_YYYY.csv under ${c.data}/990")
    Ingest.loadYears(s, ys)
  }

  private def ipedsYears(s: SparkSession, c: Harness.Conf): Seq[DataFrame] = {
    val ys = years(s"${c.data}/ipeds", "ipeds_")
    require(ys.nonEmpty, s"no ipeds_YYYY.csv under ${c.data}/ipeds")
    ys.map { case (y, p) => Ipeds.standardizeYear(Ingest.readCsv(s, p), y) }
  }

  def out(c: Harness.Conf, r: Int, name: String): String = s"${c.out}/r$r/$name"

  def form990Detail(s: SparkSession, c: Harness.Conf): DataFrame =
    Form990.scoreFilings(read990(s, c, "std"), read990(s, c, "ez"), read990(s, c, "pf"))

  def ipedsPanel(s: SparkSession, c: Harness.Conf, r: Int): DataFrame =
    Ipeds.buildPanel(ipedsYears(s, c), Some(s.read.parquet(out(c, r, "form990_detail"))))

  def ipedsUpdates(s: SparkSession, c: Harness.Conf, r: Int): DataFrame =
    Panel.latestPerEntity(
      s.read.parquet(out(c, r, "ipeds_detail")).withColumnRenamed("unitid", "entity_id"))
      .select(col("entity_id").as("unitid"), col("final_score").as("distress_score"),
        col("risk_category").as("distress_category"),
        col("accounting_std").as("accounting_standard_ipeds"),
        col("is_subsidiary"), col("likely_closed"), col("year").as("ipeds_year"))

  def form990Updates(s: SparkSession, c: Harness.Conf, r: Int): DataFrame =
    Panel.latestPerEntity(
      s.read.parquet(out(c, r, "form990_detail")).withColumnRenamed("ein", "entity_id"))
      .select(col("entity_id").as("ein_clean"), col("final_score").as("distress_score_990"),
        col("risk_category").as("distress_category_990"),
        col("filing_type").as("filing_type_990"), col("year").as("year_990"))

  val ipedsCols = Seq("distress_score", "distress_category", "accounting_standard_ipeds",
    "is_subsidiary", "likely_closed", "ipeds_year")
  val form990Cols = Seq("distress_score_990", "distress_category_990", "filing_type_990", "year_990")

  def master(s: SparkSession, c: Harness.Conf, r: Int): DataFrame = {
    val m = Ingest.readCsv(s, s"${c.data}/master.csv")
    val withIpeds = Merge.integrate(m, ipedsUpdates(s, c, r), "unitid", ipedsCols)
    Merge.integrate(withIpeds, form990Updates(s, c, r), "ein_clean", form990Cols)
  }

  def pipeline(c: Harness.Conf): Seq[Harness.Op] = {
    def write(name: String): (DataFrame, Int) => Unit =
      (df, r) => df.write.mode("overwrite").parquet(out(c, r, name))
    Seq(
      Harness.Op("form990_detail", "pipeline", "stage", (s, _) => form990Detail(s, c),
        write("form990_detail")),
      Harness.Op("ipeds_detail", "pipeline", "stage",
        (s, r) => Ipeds.score(ipedsPanel(s, c, r)), write("ipeds_detail")),
      Harness.Op("master", "pipeline", "stage", (s, r) => master(s, c, r), write("master")))
  }

  /** Per-stage self time of the pipeline: each prefix of the flow is
    * materialized once by itself through the noop sink (the timed round has
    * already run the same plans, so the JVM is warm), and a stage's self
    * time is the difference between successive prefixes. */
  def pipelineStages(spark: SparkSession, c: Harness.Conf, round: Int, spans: Spans,
                     parent: Int): Seq[(String, Any)] = {
    val sp = spans.open("stages", Some(parent))
    def t(name: String)(df: => DataFrame): Double = {
      val s = spans.open(name, Some(sp))
      val t0 = System.nanoTime()
      Harness.noop(df)
      val d = (System.nanoTime() - t0) / 1e9
      spans.close(s)
      d
    }
    val read990 = t("read_990")(Seq("std", "ez", "pf").map(k => this.read990(spark, c, k))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
    val readIpeds = t("read_ipeds")(years(s"${c.data}/ipeds", "ipeds_")
      .map { case (_, p) => Ingest.readCsv(spark, p) }
      .reduce(_.unionByName(_, allowMissingColumns = true)))
    val readMaster = t("read_master")(Ingest.readCsv(spark, s"${c.data}/master.csv"))
    val panel990 = t("panel_990")(Form990.withTrends(Form990.buildPanel(Seq(
      Form990.standardizeFiling(this.read990(spark, c, "std"), Form990.standardMap, "STD"),
      Form990.standardizeFiling(this.read990(spark, c, "ez"), Form990.ezMap, "EZ"),
      Form990.standardizeFiling(this.read990(spark, c, "pf"), Form990.pfMap, "PF")))))
    val score990 = t("score_990")(form990Detail(spark, c))
    val panelIpeds = t("panel_ipeds")(ipedsPanel(spark, c, round))
    val scoreIpeds = t("score_ipeds")(Ipeds.score(ipedsPanel(spark, c, round)))
    val mergeInputs = t("merge_inputs")(Ingest.readCsv(spark, s"${c.data}/master.csv")) +
      t("merge_inputs")(ipedsUpdates(spark, c, round)) +
      t("merge_inputs")(form990Updates(spark, c, round))
    val merged = t("merge")(master(spark, c, round))
    // the parquet sink's own cost: each output written warm, minus its
    // noop materialization above
    def w(name: String)(df: => DataFrame): Double = {
      val s = spans.open(s"write_$name", Some(sp))
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"${c.out}/stages/$name")
      val d = (System.nanoTime() - t0) / 1e9
      spans.close(s)
      d
    }
    val writeS = (w("form990_detail")(form990Detail(spark, c)) - score990) +
      (w("ipeds_detail")(Ipeds.score(ipedsPanel(spark, c, round))) - scoreIpeds) +
      (w("master")(master(spark, c, round)) - merged)
    spans.close(sp)
    val inputBytes = Seq("990", "ipeds").flatMap(d =>
      Option(new File(s"${c.data}/$d").listFiles()).getOrElse(Array.empty[File]).toSeq)
      .map(_.length()).sum + new File(s"${c.data}/master.csv").length()
    Seq(
      "ingest.read_s" -> (read990 + readIpeds + readMaster),
      "ingest.input_bytes" -> inputBytes,
      "model.form990.panel_s" -> (panel990 - read990),
      "core.engine.score_990_s" -> (score990 - panel990),
      "model.ipeds.panel_s" -> (panelIpeds - readIpeds),
      "core.engine.score_ipeds_s" -> (scoreIpeds - panelIpeds),
      "ops.merge_s" -> (merged - mergeInputs),
      "sink.write_s" -> writeS)
  }
}

/** Native text kernels, each applied through its public Column function
  * over the cached `documents` text (repeated to 50k rows) and written to
  * the noop sink. The faster of two passes per kernel (the first one also
  * compiles the generated code). */
object Kernels {
  val kernels: Seq[(String, Column => Column)] = Seq(
    "simhash" -> graft.functions.SimHash.simhash,
    "winnow" -> graft.functions.Winnow.winnow,
    "normText" -> graft.functions.NormText.normText,
    "tokenCount" -> graft.functions.TokenCount.tokenCount,
    "charsNospace" -> graft.functions.CharsNospace.charsNospace,
    // the repetition kernel reads the whitespace tokens, as its query does
    "gopherRep" -> (c => graft.functions.GopherRep.gopherRep(split(trim(c), "\\s+"))))

  def measure(spark: SparkSession, c: Harness.Conf, spans: Spans,
              parent: Int): Seq[(String, Any)] = {
    val sp = spans.open("kernels", Some(parent))
    val docs = Tables.documents(spark, c.data).select("text")
    val copies = math.max(1L, 50000L / math.max(1L, docs.count()))
    val text = docs.crossJoin(spark.range(copies)).select("text").persist()
    val rows = text.count()
    val out = kernels.map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val s = spans.open(name, Some(sp))
        val t0 = System.nanoTime()
        Harness.noop(text.select(fn(col("text")).as("k")))
        val d = (System.nanoTime() - t0) / 1e9
        spans.close(s)
        d
      }
      s"functions.$name.rows_per_s" -> rows / times.min
    }
    text.unpersist(blocking = true)
    spans.close(sp)
    out
  }
}

/** Spans of the benchmark's own calls, held in memory until the run ends
  * (recorded only when tracing). */
final class Spans(enabled: Boolean, runId: String) {
  private val recs = ArrayBuffer[(Int, String, Option[Int], Double, Double)]()
  private val open_ = scala.collection.mutable.Map[Int, (String, Option[Int], Double)]()
  private var next = 0

  def open(name: String, parent: Option[Int]): Int = {
    next += 1
    if (enabled) open_(next) = (name, parent, System.currentTimeMillis().toDouble)
    next
  }

  def close(id: Int): Unit =
    open_.remove(id).foreach { case (n, p, s) =>
      recs += ((id, n, p, s, System.currentTimeMillis().toDouble))
    }

  def all: Seq[Map[String, Any]] = recs.toSeq.sortBy(_._1).map { case (id, n, p, s, e) =>
    Map("id" -> id, "name" -> n, "parent" -> p.getOrElse(null), "start_ms" -> s,
      "end_ms" -> e, "run_id" -> runId)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): Seq[(String, Any)] = kv

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
      case (_: String, _) => true
      case _ => false
    } => kv.map { case (k: String, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
