"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (benchsuite/src)
with the Scala compiler that ships in Spark's jars, in two
steps: the program into .bench_build/main-<hash of its sources>, then
the benchmark against it into .bench_build/bench-<hash>. A step whose
output exists is reused.

    python3 benchsuite/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_home():
    """SPARK_HOME, or the first `spark-submit` on PATH that sits in a
    Spark installation (one with a jars directory)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    raise SystemExit("build: set SPARK_HOME or put Spark's spark-submit on PATH")


SPARK_JARS = spark_home() / "jars"


def scala_files(d):
    if not d.is_dir():
        raise SystemExit(f"build: missing source directory {d}")
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def compile_once(name, srcs, classpath, salt=""):
    """Compiles `srcs` into .bench_build/<name>-<hash>, unless done."""
    h = hashlib.sha256(salt.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    build_dir = ROOT / ".bench_build"
    out = build_dir / f"{name}-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    tmp = build_dir / f"{name}-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / f"{name}-sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", classpath, "-nowarn", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed on {name} with exit code {r.returncode}")
    (tmp / ".ok").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def build():
    """Returns the classpath: benchmark classes, program classes, Spark."""
    spark = f"{SPARK_JARS}/*"
    main = compile_once("main", scala_files(ROOT / "src" / "main" / "scala"), spark)
    bench = compile_once("bench", scala_files(ROOT / "benchsuite" / "src"),
                         f"{main}:{spark}", salt=main.name)
    return f"{bench}:{main}:{spark}"


if __name__ == "__main__":
    print(build())
