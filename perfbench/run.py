#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  registry-sf0.1  a fixed slice of SparkEntry.queries over the sf0.1 tables
  fold-hot-1s     open-loop fold over 1,000 hot keys, 1 s trigger
  fold-wide       closed-loop InventoryStream fold over 1M product keys, at
                  saturation; not in BENCHMARK.json, whose run budget fits
                  two workloads at a steady run length

The first run builds the program and the benchmark from source (build.py).
Each run is one JVM with one Spark session of local[<nproc>] and a heap of a
quarter of MemTotal, working in a fresh directory under .bench_runs/. The
last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 1 the metrics are the per-layer ones, and spans.jsonl plus
result.json (with self time per layer and the tracing overhead) are kept in
the run directory.

Extra options: --keys, --events-per-batch and --rate override a fold
workload's defaults; --self-test runs only the benchmark's own logic tests.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("registry-sf0.1", "fold-wide", "fold-hot-1s")
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
EXPECTED = "perfbench/expected/registry-sf0.1.tsv"
# Spark on JDK 17 outside spark-submit needs these (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """A quarter of MemTotal, between 2 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(2, min(8, kib // (4 * 1024 * 1024)))}g"


def data_dir(root, sf="0.1"):
    """The table directory that TESTDATA.md lists for scale factor `sf`."""
    path = os.path.join(root, "TESTDATA.md")
    if os.path.isfile(path):
        with open(path, encoding="utf-8") as f:
            for line in f:
                m = re.match(r"\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", line)
                if m:
                    return m.group(1).rstrip("/")
    return None


def git_head(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, timeout=10,
                              capture_output=True, text=True).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--keys", type=int)
    p.add_argument("--events-per-batch", type=int)
    p.add_argument("--rate", type=int)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and not a.workload:
        p.error("--workload is required")

    t0 = time.monotonic()
    root = os.getcwd()
    try:
        jars = build.spark_jars(root)
        classes, key, fresh = build.build(root, timeout=FIRST_RUN_LIMIT_S - 60)
    except build.BuildError as e:
        fail(f"build: {e}")
    limit = (FIRST_RUN_LIMIT_S if fresh else RUN_LIMIT_S) - (time.monotonic() - t0)

    runs = os.path.join(root, ".bench_runs")
    run_dir = os.path.join(runs, f"{a.workload or 'self-test'}-s{a.seed}-t{a.trace}-"
                                 f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = (["java", f"-Xmx{heap()}", "-Xss8m", "-XX:-UsePerfData"]
            + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
               "-Dlog4j.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-Dspark.sql.legacy.allowHashOnMapType=true",
               "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
               "-cp", classes + os.pathsep + os.path.join(jars, "*")])
    if a.self_test:
        cmd = java + ["perfbench.SelfCheck"]
    else:
        data = data_dir(root)
        if a.workload.startswith("registry") and (not data or not os.path.isdir(data)):
            fail("TESTDATA.md names no existing sf0.1 table directory")
        cmd = java + ["perfbench.Main",
                      "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--run-dir", run_dir, "--data-dir", data or "none",
                      "--cores", str(cores()), "--heap", heap(),
                      "--expected", os.path.join(root, EXPECTED),
                      "--source-sha", key, "--git-head", git_head(root)]
        for opt in ("keys", "events_per_batch", "rate"):
            if getattr(a, opt) is not None:
                cmd += ["--" + opt.replace("_", "-"), str(getattr(a, opt))]

    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run did not finish within {int(limit)} s", 1)
    finally:
        for d in os.listdir(run_dir) if os.path.isdir(run_dir) else []:
            if d.startswith("session-") or d == "tmp":
                shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    if a.self_test:
        print("\n".join(lines))
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(proc.returncode)
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        fail(f"the run produced no result (exit code {proc.returncode})", 1)
    print("\n".join(lines[:-1] + [json.dumps(result)]))


if __name__ == "__main__":
    main()
