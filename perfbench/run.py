"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
(perfbench/build.py), probes the machine, runs one workload in a fresh JVM
(Spark local[nproc], the harness's mock upstream API inside the same JVM)
and prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). Everything it writes goes under
.bench_build/ in the checkout; traced runs leave their spans there.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_remote", "label_drain")
DEADLINE_S = 175

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def machine_probe(scratch):
    """Drift reference: a fixed CPU loop, small-file create/fsync/delete, and
    the median round trip of a wake-up between two threads."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    cpu_ms = (time.perf_counter() - t0) * 1e3
    os.makedirs(scratch, exist_ok=True)
    t0 = time.perf_counter()
    for i in range(200):
        p = os.path.join(scratch, f"probe-{i}")
        with open(p, "wb") as fh:
            fh.write(b"x" * 512)
            fh.flush()
            os.fsync(fh.fileno())
        os.remove(p)
    fs_ms = (time.perf_counter() - t0) * 1e3
    ping, pong = threading.Event(), threading.Event()

    def echo():
        for _ in range(2000):
            ping.wait()
            ping.clear()
            pong.set()

    t = threading.Thread(target=echo)
    t.start()
    trips = []
    for _ in range(2000):
        t0 = time.perf_counter()
        ping.set()
        pong.wait()
        pong.clear()
        trips.append(time.perf_counter() - t0)
    t.join()
    return cpu_ms, fs_ms, statistics.median(trips) * 1e6


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    classpath = build.build()
    # A run has DEADLINE_S once the program is built; a build may take longer.
    started = time.monotonic()
    print(f"build: {started - t0:.1f} s", file=sys.stderr)
    cpu_ms, fs_ms, wake_us = machine_probe(os.path.join(build.BUILD, "machine"))
    print(f"machine: cpu_ms={cpu_ms:.3f} fs_ms={fs_ms:.3f} wake_us={wake_us:.3f}",
          file=sys.stderr)

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed-size heap: the collector's heap growth differs between JVMs.
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out]
    budget = DEADLINE_S - (time.monotonic() - started)
    try:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=max(30.0, budget))
        except subprocess.TimeoutExpired:
            raise SystemExit("run: the workload did not finish in time")
        if r.returncode != 0 or not os.path.exists(out):
            raise SystemExit(f"run: the workload failed (exit {r.returncode})")
        with open(out) as fh:
            result = json.load(fh)
        samples = result.pop("samples")
        print(f"samples: {json.dumps(samples)}", file=sys.stderr)
        if a.trace:
            result["metrics"]["machine.cpu_ms"] = {"value": cpu_ms, "unit": "ms"}
            result["metrics"]["machine.fs_ms"] = {"value": fs_ms, "unit": "ms"}
            result["metrics"]["machine.wake_us"] = {"value": wake_us, "unit": "us"}
            spans = os.path.join(build.BUILD, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
