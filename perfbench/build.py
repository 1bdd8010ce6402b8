"""Build file of the benchmark's JVM program.

Compiles the engine sources of the enclosing checkout (`src/main/scala`)
together with the benchmark's own (`perfbench/jvm/src`) with the Scala
compiler that ships in Spark's jars directory (`$SPARK_HOME/jars`), into
`.bench_build/perfbench-<source hash>/classes`. A build is reused while the
sources are unchanged.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "jvm" / "src"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("SPARK_HOME must point at a Spark installation with a jars/ directory")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    digest = hashlib.sha256(Path(__file__).read_bytes())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    out = ROOT / ".bench_build" / f"perfbench-{digest.hexdigest()[:16]}"
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    compiler = [next(jars.glob(f"scala-{m}-2.13*.jar")) for m in ("compiler", "library", "reflect")]
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           "-d", str(classes), f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("compilation failed")
    (out / "ok").write_text("")
    return classes


if __name__ == "__main__":
    print(build())
