#!/usr/bin/env python3
"""The repo's benchmark: one run of one workload, in a fresh JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--full] [--fail-op OP] [--count-mode]

Builds the engine and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs the harness for about `--seconds`
of whole rounds, checks every operation's output against an independent
computation, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. `--full` runs every query of the workload's
families instead of the timed subset (a correctness sweep, not a timing);
`--fail-op` forces one operation to throw; `--count-mode` times queries
with count() as graft.Bench did, for comparison with its history. See
perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check_pipeline  # noqa: E402
import check_queries  # noqa: E402
import gen_pipeline  # noqa: E402
import gen_tables  # noqa: E402

# Scale factor of the generated tables. Measured on 4 cores, seed 1, one
# run each in the same hour: the 12-operation round took 34.6 s (2.9 s per
# operation) at sf0.01 and 45.0 s (3.8 s per operation) at sf0.1, and a
# whole run 69 s against about 90 s (harness 67 s vs 82 s, DuckDB checks
# 0.2 s vs 4.1 s, generation 0.1 s vs 1.9 s). With the ~62 s pipeline run,
# sf0.1 needs 22 x 152 s = 3,344 s for the two workloads' runs alone, more
# than the 3,420 s that all runs and two builds may take, so sf0.01.
TABLE_SF = 0.01
# set-ups per run; the first one of a run is always cold (JVM start), so
# the median is a warm one. A pipeline set-up is only a session build
# (~0.1 s, +-15% from one to the next), so it is repeated more often.
SETUP_REPS = {"scoring_pipeline": 21, "query_families": 3}
JVM_TIMEOUT_S = 170  # a run must end within 180 s, checks included

ALL_FAMILIES = ["Core", "Relational", "Panel", "Engine", "Events", "Sampling",
                "Text", "Dedup", "Similarity", "Corpus", "Tokenizer"]
WORKLOADS = ["scoring_pipeline", "query_families"]

# The timed operations of query_families: one query (or a named shared
# frame) per family of the relational side, then the corpus side. A fresh
# JVM pays several times the warm cost per query (codegen, JIT, first
# plans), and the run budget allows about half a minute of such work per
# run, so a round is this subset, not all 286 queries; `--full` runs them
# all (a correctness sweep, not a timing).
OPS = [
    "q_latest_per_entity",  # Core
    "q_analyze_stats",      # Relational
    "q_ema",                # Panel
    "q_engine_scores",      # Engine
    "q_sessionize",         # Events
    "q_stratified_sample",  # Sampling
    "q_text_tokens",        # Text
    "dedup_jaccard_pairs",  # Dedup: shared frame (shingles, candidate pairs)
    "q_dedup_clusters",     # Dedup: connected components over the pairs
    "q_sim_topk",           # Similarity
    "q_corpus_split",       # Corpus
    "unigram_vocab",        # Tokenizer: shared frame
]
# Traced runs also time, once and after the timed rounds, the named heavy
# queries and shared frames that are not in the subset.
EXTRA = ["q_lifecycle_990", "q_equidepth_hist", "q_winsorized", "layout_hbox",
         "lm_mass", "q_dsir_select", "dedup_spans", "q_dbscan", "q_lsh_curve",
         "q_tfidf_pairs", "q_maxsim_rerank", "q_prf_expand", "wordpiece_repr"]

SHARED_TRACED = ["layout_hbox", "lm_mass", "dedup_jaccard_pairs", "wordpiece_repr",
                 "dedup_spans", "unigram_vocab"]
HEAVY = ["q_analyze_stats", "q_dsir_select", "q_dbscan", "q_maxsim_rerank", "q_lsh_curve",
         "q_lifecycle_990", "q_equidepth_hist", "q_winsorized", "q_tfidf_pairs",
         "q_prf_expand"]
KERNELS = ["simhash", "winnow", "normText", "tokenCount", "charsNospace", "gopherRep"]
PIPELINE_LAYERS = ["ingest.read_s", "model.form990.panel_s", "core.engine.score_990_s",
                   "model.ipeds.panel_s", "core.engine.score_ipeds_s", "ops.merge_s"]
# operations whose failure is a known fault of the program (see README)
KNOWN_FAULTS = {"scoring_pipeline": {"form990_detail": {"latest_filing_tie", "score_range"}}}

MB = 1e6


def jvm_cmd(classes, tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return cmd + ["-cp", cp, "perfbench.Harness"]


def make_inputs(workload, seed, work):
    """The workload's inputs, generated from the seed into the run's own
    directory (removed with it); generation is not timed."""
    d = os.path.join(work, "data")
    if workload == "scoring_pipeline":
        gen_pipeline.generate(d, seed)
    else:
        gen_tables.generate(d, seed, TABLE_SF)
    return d


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_round(res, pick, field):
    """Median over rounds of a counter summed over the round's groups whose
    operation `pick` accepts."""
    ops = {o["group"]: o for o in res["ops"]}
    sums = {}
    for g in res["groups"]:
        op = ops.get(g["group"])
        if op is not None and pick(op):
            sums[op["round"]] = sums.get(op["round"], 0) + g[field]
    rounds = range(1, len(res["round_wall_s"]) + 1)
    return median([sums.get(r, 0) for r in rounds])


def end_to_end(res, ok_walls):
    every = lambda o: True  # noqa: E731
    timed = {o["group"] for o in res["ops"] if o["round"] > 0}
    peak = max([g["peak_exec_mem"] for g in res["groups"] if g["group"] in timed] or [0])
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "run_s": (median(res["round_wall_s"]), "s"),
        "op_p50_s": (median(ok_walls), "s"),
        "task_s": (per_round(res, every, "task_ms") / 1000.0, "s"),
        "jobs": (per_round(res, every, "jobs"), "count"),
        "shuffle_write_mb": (per_round(res, every, "shuffle_write") / MB, "MB"),
        "peak_exec_mem_mb": (peak / MB, "MB"),
    }


def per_layer(res, work):
    extras = [o for o in res["ops"] if o["round"] == 0]
    ops = [o for o in res["ops"] if o["round"] > 0]
    rounds = sorted({o["round"] for o in ops})
    extra = dict(res["extra"]) if res["extra"] else {}
    groups = {g["group"]: g for g in res["groups"]}

    def named(name, field):
        """A named operation's figure: its median over the timed rounds,
        else its one traced extra run, else 0 (not in this workload)."""
        timed = [o for o in ops if o["name"] == name]
        if timed:
            if field == "wall_s":
                return median([o["wall_s"] for o in timed])
            return median([groups.get(o["group"], {}).get(field, 0) for o in timed])
        for o in extras:
            if o["name"] == name:
                return o["wall_s"] if field == "wall_s" else groups.get(o["group"], {}).get(field, 0)
        return 0
    m = {}

    def op_median(pick, f):
        return median([sum(f(o) for o in ops if o["round"] == r and pick(o)) for r in rounds])

    shared = lambda o: o["kind"] == "shared"  # noqa: E731
    query = lambda o: o["kind"] == "query"  # noqa: E731
    m["tables.cache_build_s"] = (median(res["tables_cache_build_s"]), "s")
    m["tables.cache_mb"] = (res["tables_cache_bytes"] / MB, "MB")
    m["shared.build_s"] = (op_median(shared, lambda o: o["wall_s"]), "s")
    m["shared.jobs"] = (per_round(res, shared, "jobs"), "count")
    m["shared.task_s"] = (per_round(res, shared, "task_ms") / 1000.0, "s")
    m["shared.cache_mb"] = (res["shared_cache_bytes"] / MB, "MB")
    for f in SHARED_TRACED:
        m[f"shared.{f}.build_s"] = (named(f, "wall_s"), "s")

    # query phases: plan records fall in the operation whose window holds
    # their start; execution is the sink call minus its own planning
    plans = res["plans"]

    def plan_in(lo, hi):
        return sum(p["plan_ms"] for p in plans if lo <= p["start_ms"] <= hi) / 1000.0

    plan_s, exec_s = [], []
    for r in rounds:
        qs = [o for o in ops if o["round"] == r and query(o)]
        plan_s.append(sum(plan_in(o["start_ms"], o["end_ms"]) for o in qs))
        exec_s.append(sum((o["end_ms"] - o["sink_start_ms"]) / 1000.0
                          - plan_in(o["sink_start_ms"], o["end_ms"]) for o in qs))
    q_task_s = per_round(res, query, "task_ms") / 1000.0
    m["query.construct_s"] = (op_median(query, lambda o: o["build_s"]), "s")
    m["query.plan_s"] = (median(plan_s), "s")
    m["query.exec_s"] = (median(exec_s), "s")
    m["query.stages"] = (per_round(res, query, "stages"), "count")
    m["query.tasks"] = (per_round(res, query, "tasks"), "count")
    m["query.parallelism"] = (q_task_s / median(exec_s) if median(exec_s) > 0 else 0.0, "ratio")
    m["query.shuffle_read_mb"] = (per_round(res, query, "shuffle_read") / MB, "MB")
    m["query.spill_mb"] = (per_round(res, query, "spill") / MB, "MB")

    for fam in ALL_FAMILIES:
        pick = lambda o, fam=fam: o["family"] == fam  # noqa: E731
        m[f"family.{fam}.wall_s"] = (op_median(pick, lambda o: o["wall_s"]), "s")
        m[f"family.{fam}.jobs"] = (per_round(res, pick, "jobs"), "count")
        m[f"family.{fam}.task_s"] = (per_round(res, pick, "task_ms") / 1000.0, "s")
    for q in HEAVY:
        m[f"q.{q}.wall_s"] = (named(q, "wall_s"), "s")
        m[f"q.{q}.jobs"] = (named(q, "jobs"), "count")
    for k in KERNELS:
        m[f"functions.{k}.rows_per_s"] = (extra.get(f"functions.{k}.rows_per_s", 0.0), "1/s")

    for k in PIPELINE_LAYERS:
        m[k] = (extra.get(k, 0.0), "s")
    m["ingest.input_mb"] = (extra.get("ingest.input_bytes", 0) / MB, "MB")
    m["sink.write_s"] = (extra.get("sink.write_s", 0.0), "s")
    out_bytes = 0
    if res["workload"] == "scoring_pipeline":
        out_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(work, "r1", "*", "*"))
                        if os.path.isfile(p))
    m["sink.write_mb"] = (out_bytes / MB, "MB")
    return m


def account(workload, ops, failures, log=lambda msg: None):
    """Failure accounting. An operation fails when it threw a non-fatal
    error or its output failed a check; its time never counts as a
    success. `correct` stays true while every failure is a known fault of
    the program (KNOWN_FAULTS). Returns (attempted, failed, ok_walls,
    correct); `failures` maps (name, round) to the failed checks."""
    failures = {k: set(v) for k, v in failures.items()}
    for o in ops:
        if o["status"] != "ok":
            failures.setdefault((o["name"], o["round"]), set()).add("error: " + o["error"])
    known = KNOWN_FAULTS.get(workload, {})
    unexpected = {k: v for k, v in failures.items() if not v <= known.get(k[0], set())}
    for (name, rnd), why in sorted(failures.items()):
        log(f"FAILED {name} round {rnd}: {'; '.join(sorted(why))[:300]}")
    ok_walls = [o["wall_s"] for o in ops if o["round"] > 0
                and (o["name"], o["round"]) not in failures]
    return len(ops), len(failures), ok_walls, not unexpected


def check_spans(res):
    """Every span but the root links to a recorded parent, and every Spark
    job carries an operation's job group."""
    ids = {s["id"] for s in res["spans"]}
    orphans = [s for s in res["spans"] if s["parent"] is not None and s["parent"] not in ids]
    ungrouped = sum(g["jobs"] for g in res["groups"] if g["group"] == "(none)")
    return orphans, ungrouped


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--fail-op")
    ap.add_argument("--count-mode", action="store_true",
                    help="time queries with count() as graft.Bench did (no output checks)")
    a = ap.parse_args(argv)
    log = lambda msg: print(f"[perfbench] {msg}", file=sys.stderr, flush=True)  # noqa: E731

    classes = build.build()
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    data = make_inputs(a.workload, a.seed, work)
    query = a.workload == "query_families"
    ops = ",".join(OPS) if query and not a.full else "all"
    extra = EXTRA if query and a.trace and not a.full else []
    cmd = jvm_cmd(classes, tmp) + [
        "--workload", a.workload, "--data", data, "--out", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--setup-reps", str(SETUP_REPS[a.workload]), "--ops", ops, "--seed", str(a.seed)]
    if extra:
        cmd += ["--extra-ops", ",".join(extra)]
    if a.fail_op:
        cmd += ["--fail-op", a.fail_op]
    if a.count_mode:
        cmd += ["--sink", "count"]
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(cmd, stdout=jl, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S if not a.full else 3600)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    log(f"harness {time.time() - t0:.1f}s")
    res = json.load(open(os.path.join(work, "result.json")))

    # correctness: every operation's output against an independent computation
    t1 = time.time()
    if a.count_mode:
        failures = {}
    elif a.workload == "scoring_pipeline":
        failures = check_pipeline.check(work, data, res["ops"])
    else:
        failures = {k: {v} for k, v in
                    check_queries.check(work, data, res["ops"], res["oracle_sql"]).items()}
    log(f"checks {time.time() - t1:.1f}s")
    for o in res["ops"]:
        log(f"op r{o['round']} {o['name']} {o['wall_s']:.3f}s {o['status']}")
    attempted, failed, ok_walls, correct = account(a.workload, res["ops"], failures, log)

    if a.trace:
        metrics = per_layer(res, work)
        orphans, ungrouped = check_spans(res)
        if orphans or ungrouped:
            log(f"trace: {len(orphans)} spans without parent, {ungrouped} jobs without group")
            correct = False
        trace_dir = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{res['run_id']}.json"), "w") as f:
            json.dump({"run_id": res["run_id"], "spans": res["spans"], "groups": res["groups"],
                       "ops": res["ops"]}, f)
    else:
        metrics = end_to_end(res, ok_walls)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
