#!/usr/bin/env python3
"""Benchmark command: builds the engine and the benchmark from source (see
build.py), runs one workload in one JVM on the engine's shipped session
(`Graft.session`, local[nproc]), and prints every metric by name with its
unit.

    python3 perfbench/run.py --workload search|concurrent|mixed|dedup --seed N \
        --seconds S --trace 0|1

stdout: one `{"env": ...}` line (nproc, JVM, Spark version and resolved
SQL conf of the run), then, as the last line, the result object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` the per-layer ones and writes the run's
spans under .bench_build/traces/. Exits non-zero without a result when the
build, the run or the output parse fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

WORKLOADS = ("search", "concurrent", "mixed", "dedup")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    bb = build.BUILD
    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = bb / "work" / tag
    tmp = bb / "tmp" / tag
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    (bb / "logs").mkdir(exist_ok=True)
    log = bb / "logs" / f"{tag}.log"
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    # the heap the engine's build.sbt forks with; no hsperfdata file, which
    # the JVM would write under /tmp, outside the checkout
    cmd = [build.java(), f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]
    if a.trace:
        cmd += ["--spans", str(bb / "traces" / f"spans-{tag}.jsonl")]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    env=env, cwd=tmp, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s; log: {log}",
                      file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    with open(log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode}); log: {log}",
              file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: malformed result line; log: {log}", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
