#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

  python3 perfbench/run.py --workload kg_wide_vocab --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds first (see build.py), then runs the
harness in one JVM on half the local cores, at most two. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). The line before it,
prefixed "report ", holds every workload-specific number and the host
sentinel. Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("kg_wide_vocab", "kg_incremental", "near_dup_corpus")
JVM_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:NewRatio=1", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=ERROR",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build.build()
    work = os.path.abspath(os.path.join(build.OUT, "work"))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath(),
                                  "graft.perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{a.workload}: no result within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        raise SystemExit(f"{a.workload}: harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{a.workload}: malformed result line")
    with open("BENCHMARK.json") as f:
        declared = json.load(f)["per_layer" if a.trace == "1" else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != {m["name"]: m["unit"] for m in declared}:
        raise SystemExit(f"{a.workload}: metrics differ from BENCHMARK.json")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
