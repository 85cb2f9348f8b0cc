"""Benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout, on `local[<cores available>]`, with one
client thread in a closed loop.  Prints facts about the host, the
per-request latencies, the correctness checks and, with `--trace 1`, the
per-layer ledger; the last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see BENCHMARK.json) and prints every span as a `span {...}` JSON
line before the last line.  Everything the run writes lives under one
scratch root inside the checkout, removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer samples."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100.0
    return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, Spark's Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        kids[ppid].append(pid)
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids[pid]
    return total / tick


def calibrate(spark) -> tuple[float, float]:
    """Fixed numpy and Spark jobs, min of two: numbers from hosts whose
    calibrations differ are not comparable."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((400, 400))
    best_np = best_spark = float("inf")
    n = spark.sparkContext.defaultParallelism
    for _ in range(2):
        t = time.perf_counter()
        for _ in range(20):
            a @ a
        best_np = min(best_np, time.perf_counter() - t)
        t = time.perf_counter()
        spark.range(0, 10_000_000, 1, n).selectExpr("bit_xor(xxhash64(id))").collect()
        best_spark = min(best_spark, time.perf_counter() - t)
    return best_np, best_spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, scratch: str) -> dict:
    import gen
    import spans
    from inmem_vector_db_spark.session import get_spark
    from workloads import WORKLOADS, Bench

    w = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
    }
    log_dir = os.path.join(scratch, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer(spark.sparkContext, bool(args.trace))
        phases = spans.StreamPhases(spark) if args.trace else None
        b = Bench(spark, tracer)
        with tracer.span(f"workload.{args.workload}", "bench"):
            # set up several times and report the median; the first
            # set-up carries the session's cold start (first Python
            # workers, first code generation), the median does not.  Then
            # every request kind runs once untimed on the last set-up, so
            # the timed requests find caches filled and lazy set-up done.
            # A failure there fails the run.
            setups = []
            for r in range(SETUP_REPEATS):
                with tracer.span("setup", "bench"):
                    t = time.perf_counter()
                    inputs = gen.generate(args.workload, args.seed, os.path.join(scratch, f"in-{r}"))
                    state = w.setup(b, inputs, os.path.join(scratch, f"out-{r}"))
                    setups.append(time.perf_counter() - t)
            with tracer.span("warmup", "bench"):
                tw = time.perf_counter()
                warm = Bench(spark, tracer)
                w.cycle(warm, state, 0)
                if warm.failed:
                    raise RuntimeError(f"warmup: {warm.failed} requests failed")
                warm_s = time.perf_counter() - tw
                calib_np, calib_spark = calibrate(spark)
            with tracer.span("timed", "bench"):
                # whole rounds, at least one; the next one starts only if
                # it is expected to end nearer the deadline than stopping
                t, c = time.perf_counter(), tree_cpu_s()
                walls = []
                while not walls or (
                        time.perf_counter() - t + statistics.fmean(walls) / 2 < args.seconds):
                    r0 = time.perf_counter()
                    w.cycle(b, state, len(walls) + 1)
                    walls.append(time.perf_counter() - r0)
                cycles = len(walls)
                timed_s = time.perf_counter() - t
                cpu_s = tree_cpu_s() - c
            with tracer.span("check", "bench"):
                recall, index_bytes = w.check(b, state)
            if args.workload == "ingest" and args.trace:
                # the entries feed the per-layer ledger only
                import entries

                with tracer.span("entries", "bench"):
                    entries.run(b, inputs["tables_dir"])
        rss = peak_rss_mb(spark)
        facts = {"master": spark.sparkContext.master,
                 "default_parallelism": spark.sparkContext.defaultParallelism,
                 "calibration_numpy_s": round(calib_np, 4),
                 "calibration_spark_s": round(calib_spark, 4)}
        if phases is not None:
            phases.wait_terminated()
    finally:
        stop_spark(spark)

    print("facts " + json.dumps(facts))
    print(f"setup_s runs: {[round(x, 3) for x in setups]}; session start {session_start_s:.3f}s; "
          f"warmup {warm_s:.3f}s; timed {timed_s:.3f}s, {cycles} cycles, cpu {cpu_s:.2f}s")
    print(f"round walls: {[round(x, 3) for x in walls]}")
    medians = {}
    for kind in w.kinds:
        lat = b.latency.get(kind, [])
        if not lat:
            continue
        medians[kind] = statistics.median(lat)
        tv, tp = tail(lat)
        print(f"latency {kind:18} n={len(lat):3d} p50={medians[kind] * 1000:9.1f}ms "
              f"p{tp:.0f}={tv * 1000:9.1f}ms")
    for kind, lat in b.latency.items():
        if kind.startswith("entry."):
            print(f"entry {kind[6:]:28} wall={lat[0]:.3f}s")
    for name, ok, detail in b.checks:
        print(f"check {name:26} {'ok' if ok else 'FAILED'} {detail}")
    pooled = [x for kind in w.kinds for x in b.latency.get(kind, [])]
    cpu_ms = 1000 * cpu_s / max(1, len(pooled))
    if medians:
        print(f"p50_ms {1000 * statistics.fmean(medians.values()):.1f} (mean over kinds of each "
              f"kind's median); cpu {cpu_ms:.1f} ms per timed request")
    if len(pooled) > 20:
        tail_v, tail_p = tail(pooled)
        print(f"tail: p{tail_p:.1f} of {len(pooled)} requests = {tail_v * 1000:.1f}ms")
    else:
        print(f"tail: {len(pooled)} requests are too few for a percentile above the median")
    correct = b.failed == 0 and len(medians) == len(w.kinds)

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "recall_at_10": (recall, "ratio"),
            "index_bytes_per_vector": (index_bytes, "B"),
        }
    else:
        rows = spans.ledger(tracer.spans, spans.read_event_log(log_dir))
        rollup = spans.request_rollup(rows, w.kinds)
        for line in spans.table(rows) + spans.rollup_table(rollup):
            print(line)
        if phases.progress:
            keys = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                    "commitOffsets", "triggerExecution")
            print(f"stream batches {len(phases.progress)}: " + ", ".join(
                f"{k}_ms={sum(p.get(k, 0) for p in phases.progress)}" for k in keys))
        for span in tracer.spans:
            print("span " + json.dumps(span))
        metrics = layer_metrics(rollup, session_start_s, medians)
        metrics["cpu_ms_per_request"] = (cpu_ms, "ms")
        metrics["peak_rss_mb"] = (rss, "MB")
    return {
        "correct": bool(correct),
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(rollup: dict[str, dict], session_start_s: float, medians: dict) -> dict:
    """Means per timed request, over all its kinds: time in the calls into
    the engine, in collecting their results and between Spark jobs; the
    Spark work done; and self time in the two layers both workloads use."""
    total = defaultdict(float)
    for a in rollup.values():
        for k, v in a.items():
            total[k] += v
    n = max(1.0, total["n"])
    out = {"session_start_s": (session_start_s, "s"),
           "traced_p50_ms": (1000 * statistics.fmean(medians.values()), "ms")}
    for k in ("call", "exec", "gap", "task"):
        out[f"{k}_ms_per_request"] = (1000 * total[f"{k}_s"] / n, "ms")
    for k in ("ann", "store"):
        out[f"{k}_self_ms_per_request"] = (1000 * total[f"self.{k}"] / n, "ms")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("records_read", "count"), ("shuffle_read_bytes", "bytes"),
                    ("shuffle_write_bytes", "bytes"), ("bytes_written", "bytes")):
        out[f"{k}_per_request"] = (total[k] / n, unit)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine and this benchmark must be importable here and in Spark's
    # Python workers, which inherit PYTHONPATH from the JVM we start; no
    # process writes bytecode caches into the checkout
    sys.path[:0] = [ROOT, HERE]
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import inmem_vector_db_spark  # noqa: F401  (fail before creating anything)

    base = os.path.join(ROOT, ".perfbench_tmp")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
