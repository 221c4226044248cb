"""Runs one benchmark measurement in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload interval --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds first when the sources changed
(see build.py). The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; every file the
run writes lives under .bench_build and is removed at exit, except the
span file of a traced run (.bench_build/trace/).
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["interval", "motif", "fixpoint"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    run = (build.BUILD / f"run-{os.getpid()}").resolve()
    trace_out = (build.BUILD / "trace" / f"{a.workload}-seed{a.seed}.jsonl").resolve()
    for d in ("tmp", "local", "ckpt"):
        (run / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run / 'tmp'}", f"-Dspark.local.dir={run / 'local'}",
            f"-Dspark.sql.warehouse.dir={run / 'warehouse'}",
            f"-Dspark.graft.checkpointDir={run / 'ckpt'}",
            # Spark's status store keeps up to 1000 finished jobs, stages
            # and queries; at that default the live heap grows with every
            # round, and a faster build would read as a heavier one
            "-Dspark.ui.retainedJobs=20", "-Dspark.ui.retainedStages=20",
            "-Dspark.sql.ui.retainedExecutions=20",
            f"-Dlog4j2.configurationFile={pathlib.Path(__file__).resolve().parent / 'log4j2.properties'}",
            "-cp", os.pathsep.join([str(classes), str(build.RESOURCES), f"{jars}/*"]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", str(run / "data"), "--trace-out", str(trace_out)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(run, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    print("\n".join(lines[:-1]))
    if proc.returncode != 0:
        sys.exit(f"perfbench: JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
