package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own job, stage and task counters, summed per job group.
  *
  * Every operation the harness times runs under its own job group, so a
  * job is attributed to the operation that launched it by the group id
  * Spark stamps on the job (`spark.jobGroup.id`), never by timing. Stages
  * that were skipped because their shuffle output was reused never
  * complete and are not counted. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
}

final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, GroupStats]()

  private def stat(g: String): GroupStats =
    stats.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(GroupListener.Ungrouped)
    stat(g).synchronized { stat(g).jobs += 1 }
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stat(g)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stat(Option(stageGroup.get(e.stageId)).getOrElse(GroupListener.Ungrouped))
      s.synchronized {
        s.tasks += 1
        s.taskMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def snapshot: Map[String, GroupStats] = stats.asScala.toMap
}

object GroupListener {
  val Ungrouped = "(none)"
}

/** Analysis + optimization + planning time of every query Spark runs,
  * read from each query's planning tracker. Records carry the wall-clock
  * start of the first phase, so the harness attributes them to the
  * operation whose time window holds that start. */
final class PlanListener extends QueryExecutionListener {
  final case class Rec(startMs: Long, planMs: Long)
  private val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val used = Seq("analysis", "optimization", "planning").flatMap(phases.get)
    if (used.nonEmpty)
      recs.add(Rec(used.map(_.startTimeMs).min, used.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def records: Seq[Rec] = recs.asScala.toSeq
}
