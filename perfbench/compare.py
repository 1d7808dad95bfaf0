#!/usr/bin/env python3
"""Collects sets of benchmark runs and compares two of them.

  collect  run one workload for a list of seeds in one checkout and append
           one JSON line per run to a file:
             compare.py collect --out a.jsonl --workload query_families --seeds 1-10
             [--root CHECKOUT]
  pairs    the same for two checkouts, alternating which one runs first
           for each seed (A,B then B,A ...), so host drift falls on both:
             compare.py pairs --a PARENT --b CHILD --out-a a.jsonl --out-b b.jsonl
             --workload query_families --seeds 1-10
  report   per (end-to-end metric, workload): median and quartiles of each
           side, the spread (interquartile range / median), the
           no-regression check against the metric's bound, and the pairs
           rule. A row is `unresolved` when either side's spread exceeds
           the bound:
             compare.py report a.jsonl b.jsonl [--bench BENCHMARK.json]

Pairs rule: a change is a win on a metric only when it is better in at
least 9 of 10 seed-matched pairs and the gap between the medians is larger
than the parent's interquartile range. No-regression: the child's median
may be worse than the parent's by at most `bound` x the parent's median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += list(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def run_one(root, workload, seed, seconds):
    """One untraced run: the end-to-end metrics that `report` compares."""
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} in {root} (exit {r.returncode})")
    return json.loads(lines[-1])


def bench_conf(path):
    return json.load(open(path))


def append(path, rec):
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


def cmd_collect(a):
    conf = bench_conf(os.path.join(a.root, "BENCHMARK.json"))
    for s in seeds(a.seeds):
        res = run_one(a.root, a.workload, s, conf["run_seconds"])
        append(a.out, {"workload": a.workload, "seed": s, "result": res})
        print(f"{a.workload} seed {s}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()}), flush=True)


def cmd_pairs(a):
    conf = bench_conf(os.path.join(a.b, "BENCHMARK.json"))
    for i, s in enumerate(seeds(a.seeds)):
        order = [(a.a, a.out_a), (a.b, a.out_b)]
        if i % 2:
            order.reverse()
        for root, out in order:
            res = run_one(root, a.workload, s, conf["run_seconds"])
            append(out, {"workload": a.workload, "seed": s, "result": res})
        print(f"{a.workload} seed {s} done", flush=True)


def load(path):
    out = {}
    for line in open(path):
        if line.strip():
            rec = json.loads(line)
            out.setdefault(rec["workload"], []).append(rec)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def cmd_report(a):
    conf = bench_conf(a.bench)
    metrics = {m["name"]: m for m in conf["end_to_end"]}
    sa, sb = load(a.a), load(a.b)
    bad = 0
    print(f"{'workload':18} {'metric':18} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
          f"{'sprA':>6} {'sprB':>6} {'bound':>6}  verdict")
    for w in sorted(set(sa) & set(sb)):
        ra, rb = sa[w], sb[w]
        for recs, side in ((ra, "A"), (rb, "B")):
            shares = {r["result"]["failed"] / r["result"]["attempted"] for r in recs}
            wrong = [r["seed"] for r in recs if not r["result"]["correct"]]
            if wrong:
                print(f"{w}: side {side} incorrect on seeds {wrong}")
                bad += 1
            if len(shares) != 1:
                print(f"{w}: side {side} failed share differs between runs: {sorted(shares)}")
                bad += 1
        fa = ra[0]["result"]["failed"] / ra[0]["result"]["attempted"]
        fb = rb[0]["result"]["failed"] / rb[0]["result"]["attempted"]
        if fa != fb:
            print(f"{w}: failed share A {fa:.4f} vs B {fb:.4f}")
            bad += 1
        for name, m in metrics.items():
            va = [r["result"]["metrics"][name]["value"] for r in ra]
            vb = [r["result"]["metrics"][name]["value"] for r in rb]
            qa, qb = quartiles(va), quartiles(vb)
            spa = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            spb = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            verdict = []
            if max(spa, spb) > m["bound"]:
                verdict.append("unresolved")
            if worse > m["bound"]:
                verdict.append("REGRESSION")
                bad += 1
            pa = {r["seed"]: r["result"]["metrics"][name]["value"] for r in ra}
            pb = {r["seed"]: r["result"]["metrics"][name]["value"] for r in rb}
            common = sorted(set(pa) & set(pb))
            if common:
                wins = sum(1 for s in common if sign * (pb[s] - pa[s]) < 0)
                gap = abs(qb[1] - qa[1])
                if wins >= 0.9 * len(common) and gap > (qa[2] - qa[0]):
                    verdict.append(f"win {wins}/{len(common)}")
                elif len(common) - wins >= 0.9 * len(common) and gap > (qa[2] - qa[0]):
                    verdict.append(f"loss {len(common) - wins}/{len(common)}")
            if not verdict:
                verdict.append("same")
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"  # noqa: E731
            print(f"{w:18} {name:18} {fmt(qa):>30} {fmt(qb):>30} {spa:6.3f} {spb:6.3f} "
                  f"{m['bound']:6.2f}  {' '.join(verdict)}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description="Collect and compare benchmark run sets.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--root", default=ROOT)
    p = sub.add_parser("pairs")
    p.add_argument("--a", required=True)
    p.add_argument("--b", required=True)
    p.add_argument("--out-a", required=True)
    p.add_argument("--out-b", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    r = sub.add_parser("report")
    r.add_argument("a")
    r.add_argument("b")
    r.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    sys.exit({"collect": cmd_collect, "pairs": cmd_pairs, "report": cmd_report}[a.cmd](a) or 0)


if __name__ == "__main__":
    main()
