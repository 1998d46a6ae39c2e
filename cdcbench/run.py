"""CDC ingest benchmark for odibel_spark.

Usage (from the repository root):

    python3 cdcbench/run.py --workload tail|backfill --seed N \\
        --seconds S --trace 0|1 [--fault] [--size full|tiny]

Runs one workload in a fresh Spark session, checks every output against
the batch oracle, writes a detail file to ``.cdcbench/runs/`` and prints
one JSON line as the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). ``--fault`` corrupts one output before
the correctness gate; the run must then fail. Exit code 0 only for a
correct run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "events_per_s": "events/s",
    "epoch_p50_s": "s",
    "cpu_s_per_mevent": "s",
}

#: the measured work is fixed for a given --seconds: each workload's
#: measured segment count is scaled by seconds / REFERENCE_SECONDS
REFERENCE_SECONDS = 15

#: per-layer time buckets: self time of each layer's spans (plus the
#: trigger loop's time outside the sink); ``other_s`` is the rest
SPAN_BUCKETS = {
    "sink": "sink.self_s",
    "evolution.discover": "evolution.discover_s",
    "merge": "merge.self_s",
    "compact": "compact.s",
    "lake.write": "lake.write_s",
    "lake.side": "lake.side_s",
    "lake.meta": "lake.meta_s",
    "read.plan": "read.plan_s",
}

#: the per-layer metrics the traced run prints (BENCHMARK.json's
#: ``per_layer``): the ones an optimisation is most likely to move. The
#: detail file holds every metric in LAYER_UNITS; the printed line stays
#: well under 2000 characters.
PRINTED_LAYER = [
    "stream.trigger_overhead_s", "stream.offsets_ms", "stream.walcommit_ms", "stream.state_commit_ms",
    "stream.state_rows", "sink.self_s", "sink.events", "evolution.discover_s", "merge.self_s",
    "merge.touched_buckets", "merge.salt", "compact.s", "lake.write_s", "lake.meta_s",
    "lake.files_written", "lake.bytes_written_per_event", "lake.delta_files_per_bucket", "read.plan_s",
    "read.rows_scanned_per_event", "spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.task_skew",
    "jvm.jit_s", "other_s",
]

#: every per-layer metric with its unit
LAYER_UNITS = {
    "stream.trigger_overhead_s": "s", "stream.offsets_ms": "ms", "stream.walcommit_ms": "ms",
    "stream.state_rows": "rows", "stream.state_mb": "MB", "stream.state_commit_ms": "ms",
    "stream.dropped_by_watermark": "rows",
    "sink.self_s": "s", "sink.events": "events", "sink.dead": "events",
    "evolution.discover_s": "s",
    "merge.self_s": "s", "merge.touched_buckets": "buckets", "merge.salt": "tasks",
    "compact.s": "s", "compact.calls": "count",
    "lake.write_s": "s", "lake.side_s": "s", "lake.meta_s": "s", "lake.meta_calls": "count",
    "lake.files_written": "files", "lake.bytes_written_per_event": "B/event",
    "lake.delta_files_per_bucket": "files",
    "read.plan_s": "s", "read.files_planned": "files", "read.rows_scanned_per_event": "rows/event",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "codegen.compiles": "count", "driver.py_cpu_s": "s",
    "session.start_s": "s", "datagen.wal_s": "s", "setup.warmup_s": "s", "other_s": "s",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tail", "backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help=f"sizes the measured work: segments scale with seconds/{REFERENCE_SECONDS}")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", action="store_true", help="corrupt one output before the correctness gate")
    ap.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: smoke-test inputs")
    return ap.parse_args(argv)


def warmup_trend(ops: list[dict], jit_s: float) -> dict:
    """Warm-up evidence: op median over the first vs the second half of
    the measured phase, and JIT compile seconds per op."""
    secs = [o["s"] for o in ops]
    half = len(secs) // 2
    if half == 0:
        return {}
    first, second = statistics.median(secs[:half]), statistics.median(secs[half:])
    return {"first_half_median_s": first, "second_half_median_s": second,
            "second_over_first": second / first, "jvm_jit_s_per_op": jit_s / len(ops)}


def layer_metrics(wl, timings, n_ops, wall, d, spans, batches, spark_stats) -> tuple[dict, dict]:
    """Per-layer metrics of the measured phase (per op unless named
    otherwise) and the time-bucket check: the buckets plus ``other_s``
    add up to the measured wall."""
    n = max(n_ops, 1)
    totals = {key: spans.get(span, {}).get("self_s", 0.0) for span, key in SPAN_BUCKETS.items()}
    totals["stream.trigger_overhead_s"] = sum(
        b["dur_ms"]["triggerExecution"] - b["dur_ms"]["addBatch"] for b in batches) / 1e3
    covered = sum(totals.values())
    totals["other_s"] = wall - covered
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m.update({k: v / n for k, v in totals.items()})
    starts = spans.get("evolution.discover", {}).get("calls", 0)
    m["evolution.discover_s"] = totals["evolution.discover_s"] / starts if starts else 0.0
    if batches:
        dur = [b["dur_ms"] for b in batches]
        m["stream.offsets_ms"] = statistics.fmean(x.get("latestOffset", 0) + x.get("getBatch", 0) for x in dur)
        m["stream.walcommit_ms"] = statistics.fmean(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in dur)
        m["stream.state_rows"] = statistics.fmean(b["state_rows"] for b in batches)
        m["stream.state_mb"] = statistics.fmean(b["state_bytes"] for b in batches) / 2**20
        m["stream.state_commit_ms"] = statistics.fmean(b["state_commit_ms"] for b in batches)
        m["stream.dropped_by_watermark"] = sum(b["dropped_by_watermark"] for b in batches) / n
    merge = spans.get("merge", {})
    if merge.get("calls"):
        m["merge.touched_buckets"] = statistics.fmean(merge["touched"])
        m["merge.salt"] = max(merge["salt"])
    m["compact.calls"] = spans.get("compact", {}).get("calls", 0) / n
    m["lake.meta_calls"] = spans.get("lake.meta", {}).get("calls", 0) / n
    m.update(wl.layer_counts(n, spans.get("read.plan", {}).get("result", [])))
    for key in ("jobs", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = spark_stats[key] / n
    if spark_stats["task_p50_s"]:
        m["spark.task_skew"] = spark_stats["task_max_s"] / spark_stats["task_p50_s"]
    m["jvm.jit_s"] = d["jit_s"] / n
    m["jvm.gc_s"] = d["gc_s"] / n
    m["codegen.compiles"] = d["codegen_compiles"] / n
    m["driver.py_cpu_s"] = d["py_cpu_s"] / n
    for key in ("session.start_s", "datagen.wal_s", "setup.warmup_s"):
        m[key] = timings[key]
    return m, {"wall_s": wall, "buckets_s": totals, "buckets_sum_s": covered + totals["other_s"]}


def run(args, scratch) -> tuple[dict, dict]:
    from odibel_spark import get_spark

    from cdcbench import host
    from cdcbench.trace import ProgressLog, SparkStatus, Tracer
    from cdcbench.workloads import Ctx, make

    t_start = time.perf_counter()
    load_start = os.getloadavg()
    cpus = host.cores()
    spark = get_spark("cdcbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=host.spark_conf(scratch))
    timings = {"session.start_s": time.perf_counter() - t_start}
    try:
        probe = host.JvmProbe(spark)
        progress = ProgressLog()
        spark.streams.addListener(progress)
        tracer = Tracer() if args.trace else None
        if tracer:
            tracer.install()
        ctx = Ctx(spark, scratch, args.seed, progress, fault=args.fault, timings=timings)
        scale = None if args.size == "tiny" else args.seconds / REFERENCE_SECONDS
        wl = make(args.workload, ctx, scale)
        s_setup = probe.sample()
        wl.setup()
        t_warm = time.perf_counter()
        wl.warmup()
        timings["setup.warmup_s"] = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_start
        status = SparkStatus(spark) if tracer else None
        last_job = status.last_job_id() if status else -1

        ref_before = host.ref_loop_s()
        s0 = probe.sample()
        ops = wl.measure()
        s1 = probe.sample()
        ref_after = host.ref_loop_s()
        if tracer:
            tracer.uninstall()
        wall = s1["t"] - s0["t"]
        d = host.delta(s0, s1)
        batches = progress.since(s0["t"])

        wl.check()
        events, _dead = wl.applied()
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": probe.peak_rss_mb(),
            "events_per_s": events / wall,
            "epoch_p50_s": statistics.median(o["s"] for o in ops) if ops else 0.0,
            "cpu_s_per_mevent": (d["jvm_cpu_s"] + d["py_cpu_s"]) / max(events, 1) * 1e6,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "size": args.size, "fault": args.fault, "cpus": cpus, "wal": vars(wl.wal_cfg),
            "host": {"loadavg_start": load_start, "setup": host.noise(host.delta(s_setup, s0)),
                     "measured": host.noise(d), "ref_loop_s": [ref_before, ref_after]},
            "timings": timings, "measured_wall_s": wall, "ops": len(ops), "op_s": [o["s"] for o in ops],
            "warmup_trend": warmup_trend(ops, d["jit_s"]), "failures": wl.failures, "end_to_end": e2e,
        }
        if tracer:
            spans = tracer.summary(s0["t"], s1["t"])
            layers, buckets = layer_metrics(wl, timings, len(ops), wall, d, spans, batches,
                                            status.since(last_job))
            detail.update(per_layer=layers, time_buckets=buckets,
                          spans={k: {f: v[f] for f in ("calls", "self_s", "total_s")} for k, v in spans.items()})
            metrics = {k: {"value": layers[k], "unit": LAYER_UNITS[k]} for k in PRINTED_LAYER}
        else:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        failed = len(ops) if wl.failures else 0
        result = {"correct": not wl.failures, "attempted": max(len(ops), 1), "failed": max(failed, int(not ops)),
                  "metrics": metrics}
        return result, detail
    finally:
        host.stop_session(spark)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "odibel_spark")):
        print(f"cdcbench: no odibel_spark package in {CHECKOUT}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("cdcbench: --seconds must be >= 1", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    from cdcbench.host import ScratchRoot

    scratch = ScratchRoot(CHECKOUT)
    try:
        result, detail = run(args, scratch)
    finally:
        scratch.close()
    runs = os.path.join(CHECKOUT, ".cdcbench", "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-fault' if args.fault else ''}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump({"result": result, **detail}, f, indent=1, default=str)
    print(json.dumps(result, separators=(",", ":")))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
