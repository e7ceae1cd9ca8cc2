"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) from source with the Scala compiler that
ships in Spark's jar directory ($SPARK_HOME/jars), into
.bench_build/classes.

    python3 perfbench/build.py

The output is stamped with a digest of every source file; a build whose
stamp matches is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the first jars directory beside a bin/ on PATH
    that holds spark-submit."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jar directory found (set SPARK_HOME)")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft").is_dir():
        raise SystemExit(f"perfbench: the engine's sources are missing ({program}/graft)")
    files = sorted(program.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Returns the class directory, compiling first if it is stale."""
    files = sources()
    jars = spark_jars()
    classes = OUT / "classes"
    stamp = digest(files)
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    compiler = [next(jars.glob(f"scala-{m}-2.13*.jar"), None) for m in ("compiler", "library", "reflect")]
    if None in compiler:
        raise SystemExit(f"perfbench: no Scala 2.13 compiler jars in {jars}")
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", str(jars / "*"),
           "-d", str(tmp)] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} source files", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, timeout=840, stdout=sys.stderr)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
