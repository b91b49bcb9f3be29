"""Build file of the benchmark harness.

Compiles the program (src/main/scala) together with the harness
(perfbench/harness) into one class directory with the Scala compiler
that ships in Spark's jar directory, so a build needs neither sbt nor a
network. The output goes to $CARGO_TARGET_DIR (default .bench_build)
under the checkout and is reused while no source file changes.

    python3 perfbench/build.py        # build if stale, print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the first Spark install whose
    bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise RuntimeError("no Spark jar directory: set SPARK_HOME")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((ROOT / "perfbench" / "harness").rglob("*.scala"))
    return files


def ensure():
    """Returns the class directory, compiling first if any source changed."""
    jars = spark_jars()
    srcs = sources()
    if not srcs or not (ROOT / "src" / "main" / "scala").is_dir():
        raise RuntimeError("no program sources under src/main/scala")
    digest = hashlib.sha256(str(jars.resolve()).encode())
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(j) for n in ("scala-compiler", "scala-library", "scala-reflect")
                for j in sorted(jars.glob(f"{n}-2.13*.jar"))[-1:]]
    if len(compiler) != 3:
        raise RuntimeError(f"Scala 2.13 compiler jars missing from {jars}")
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
