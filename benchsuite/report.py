"""Steadiness and tracing-overhead report for one workload.

    python3 benchsuite/report.py --workload join --runs 5 [--seed0 1]

Runs the workload `--runs` times untraced and `--runs` times traced,
each in a fresh JVM with seeds seed0, seed0+1, ...; then once more
traced with seed0 to compare job and stage counts per op class. For each
end-to-end metric it prints the median, the quartiles, the spread
(quartile distance over median) and whether that spread is within the
metric's bound in BENCHMARK.json. The tracing overhead is the traced
median of each end-to-end time against the untraced median.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUNS = ROOT / ".bench_build" / "work" / "runs"

# Operations the benchmark runs at another size than its design names,
# and why; printed with every report.
RESIZED = {
    "lookup": "table of 50k points instead of ~1M: three set-ups per run "
              "must fit the per-run time budget",
    "join": "2000 rows per side instead of a few 10^4, one round per run with "
            "only distance_join as warm-up: each kNN join costs seconds of fixed "
            "plan-build work at any size, and a run must finish within the budget",
    "corpus": "1200 documents, 1200 vectors, 6000 edge draws, one round per "
              "run with only bm25_topk as warm-up; not in BENCHMARK.json, "
              "because three workloads do not fit the measurement time budget",
}


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(ROOT / "benchsuite" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if out.returncode != 0:
        sys.exit(f"run failed: {' '.join(cmd)}\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    record = json.loads((RUNS / f"{workload}-s{seed}-t{trace}.json").read_text())
    return result, record


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seeds = range(a.seed0, a.seed0 + a.runs)

    plain = [run(a.workload, s, seconds, 0) for s in seeds]
    traced = [run(a.workload, s, seconds, 1) for s in seeds]
    again = run(a.workload, a.seed0, seconds, 1)

    print(f"workload {a.workload}: {a.runs} untraced and {a.runs} traced runs, "
          f"{seconds} s each")
    print(f"resized: {RESIZED.get(a.workload, 'none')}")
    failed = sum(r["failed"] for r, _ in plain + traced)
    print(f"failed operations: {failed}; all correct: "
          f"{all(r['correct'] for r, _ in plain + traced)}")
    print(f"{'metric':<12} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
          f"{'bound':>6} {'within':<13} trace-overhead")
    for name, m in bounds.items():
        vals = [r["metrics"][name]["value"] for r, _ in plain]
        q1, med, q3 = spread(vals)
        sp = (q3 - q1) / med if med else float("inf")
        tv = statistics.median(rec["e2e"][name] for _, rec in traced)
        over = tv / med - 1 if med else float("nan")
        # the spread of setup_s is reported but not held to its bound
        within = ("yes" if sp <= m["bound"] else "NO") + (" (exempt)" if name == "setup_s" else "")
        print(f"{name:<12} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {sp:>8.3f} "
              f"{m['bound']:>6.2f} {within:<13} {over:+.3f}")
    same = traced[0][1]["class_counts"] == again[1]["class_counts"]
    print(f"job and stage counts per op class repeat between traced runs of seed "
          f"{a.seed0}: {'yes' if same else 'NO'}")
    if not same:
        for cls, c in traced[0][1]["class_counts"].items():
            if again[1]["class_counts"].get(cls) != c:
                print(f"  {cls}: {c} vs {again[1]['class_counts'].get(cls)}")
    print("in-run tracer bookkeeping share: " + ", ".join(
        f"{rec['trace_overhead_frac']:.3f}" for _, rec in traced))


if __name__ == "__main__":
    main()
