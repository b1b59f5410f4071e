"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution, into `.bench_build/classes` under the checkout.

    python3 enginebench/build.py        # from the root of a checkout

A stamp of the sources' contents skips the compile when nothing changed.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler under {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((BENCH / "scala").rglob("*.scala"))


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(quiet=False):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "classes.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return
    CLASSES.mkdir(parents=True, exist_ok=True)
    for old in CLASSES.rglob("*.class"):
        old.unlink()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", f"{spark_jars()}/*", f"@{argfile}"]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout + res.stderr)
        raise SystemExit("compile failed")
    stamp.write_text(h.hexdigest())
    if not quiet:
        print(f"built {len(srcs)} sources into {CLASSES}", file=sys.stderr)


if __name__ == "__main__":
    build()
