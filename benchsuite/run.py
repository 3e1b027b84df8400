"""Runs one benchmark workload in a fresh JVM and prints its result.

    python3 benchsuite/run.py --workload lookup|join|corpus --seed N \
        --seconds S --trace 0|1

Builds the program first (see build.py). The last stdout line is one
JSON object with `correct`, `attempted`, `failed` and `metrics`; the
span file and the full run record go to .bench_build/work.
"""
import argparse
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # nothing is written inside the benchmark's directory
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["lookup", "join", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build.build()
    bench = build.ROOT / ".bench_build"
    tmp = bench / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap keeps heap resizing out of the timings; no perf-data
    # file, so the JVM writes nothing outside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(bench / "work")]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         cwd=build.ROOT, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit("run: the workload exceeded its time limit")
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run: the benchmark JVM failed (exit code {p.returncode})")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
