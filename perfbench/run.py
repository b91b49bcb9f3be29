"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload etl_skip --seed 1 --seconds 20 --trace 0

Builds the program from source if needed (perfbench/build.py), starts
one JVM that sets up the workload from the seed and runs its ops as a
closed loop for --seconds, then prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. --trace 0
gives the end-to-end metrics, --trace 1 the per-layer ones. The whole
result, with the op records, is kept in .bench_work/results/, and a
traced run's span trees beside it. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("etl_skip", "corpus_curate", "query_surface")
JVM_SECONDS = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala'}", 2)
    try:
        classes = build.ensure()
    except Exception as e:  # a failed build is a failed run
        fail(f"build failed: {e}", 3)

    bench = ROOT / ".bench_work"
    work = bench / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    results = bench / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    result = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    result.unlink(missing_ok=True)

    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java_bin(), *opens, "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
           str(a.trace), str(ROOT), str(work), str(result), str(int(time.time() * 1000))]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'}; log tail:\n{tail}")

    r = json.loads(result.read_text())
    if (work / "trace.json").is_file():
        shutil.copy(work / "trace.json", results / f"{a.workload}-seed{a.seed}-trace.json")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "setup": r["setup"],
                      "context": r["context"], "warm_failure": r["warm_failure"]}))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
