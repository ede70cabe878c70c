"""garmadon-spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
into a per-run directory under ``perfbench/.work``; the run reads and
writes nothing outside the checkout.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (see README.md
for which end-to-end metric each layer metric should move).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import probes  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {"dashboard": workloads.dashboard, "ingest": workloads.ingest}

# per workload: what ``op_ms`` is, what one timed sample is, and the
# throughput unit (for the human-readable report)
OP_NAMES = {
    "dashboard": ("panel latency: each panel's median over the rounds, "
                  "averaged over the panels", "dashboard", "query",
                  "queries/s (dashboard_qps)"),
    "ingest": ("one backlog file through the three sink queries: each "
               "query's median micro-batch time, summed", "ingest_batch",
               "micro-batch of one sink query",
               "events/s (ingest_events_per_s)"),
}

# gated end-to-end metrics; throughput is reported but its run-to-run
# spread on a shared 4-core host (up to 26 % IQR/median) exceeds any bound
E2E = {"op_ms": "ms", "setup_s": "s"}

LAYER_UNITS = {
    "session.spark_start_s": "s",
    "session.load_table_ms": "ms", "session.load_table_calls": "count",
    "queries.construct_ms": "ms",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.physical_ms": "ms", "catalyst.codegen_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_ms": "ms", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.executor_busy_frac": "ratio",
    "spark.gc_ms": "ms", "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "frames.rows_in": "count", "frames.corrupt": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.processed_rows_per_s": "1/s",
    "streaming.backlog_files": "count",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.rows_updated": "count",
    "archive.files_written": "count", "archive.bytes_written": "bytes",
    "archive.bytes_per_event": "bytes", "rollup.partial_rows": "count",
    "index.files_written": "count", "index.bytes_written": "bytes",
    "datapipe.builder_ms": "ms", "datapipe.check_ms": "ms",
    "datapipe.memo_hit_frac": "ratio",
    "process.peak_rss_mb": "MB", "process.driver_rss_mb": "MB",
    "process.jvm_heap_used_mb": "MB",
    "self.op_ms": "ms", "self.queries_ms": "ms", "self.session_ms": "ms",
    "self.catalyst_ms": "ms", "self.spark_ms": "ms",
    "self.streaming_ms": "ms",
    "trace.unaccounted_frac": "ratio", "trace.overhead_ms": "ms",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def layer_metrics(run) -> dict[str, float]:
    """Fold the traced run's spans and counters into LAYER_UNITS."""
    out = {k: 0.0 for k in LAYER_UNITS}
    ss = run.tracer.spans
    ops = {s.op for s in ss if s.parent is None}
    n_ops = max(len(ops), 1)
    by_name: dict[str, list[float]] = {}
    for s in ss:
        by_name.setdefault(s.name, []).append(s.dur * 1000.0)
    for metric, span in (("queries.construct_ms", "queries.construct"),
                         ("catalyst.analyze_ms", "catalyst.analyze"),
                         ("catalyst.optimize_ms", "catalyst.optimize"),
                         ("catalyst.physical_ms", "catalyst.physical"),
                         ("catalyst.codegen_ms", "catalyst.codegen")):
        out[metric] = sum(by_name.get(span, [])) / n_ops
    loads = by_name.get("session.load_table", [])
    out["session.load_table_ms"] = sum(loads) / n_ops
    out["session.load_table_calls"] = len(loads) / n_ops
    out["session.spark_start_s"] = run.spark_start_s
    for layer, ms in spans.layer_self_ms(ss).items():
        if f"self.{layer}_ms" in out:
            out[f"self.{layer}_ms"] = ms / n_ops
    roots_s = sum(s.dur for s in ss if s.parent is None)
    out["trace.unaccounted_frac"] = spans.unaccounted_frac(ss)
    out["self.op_ms"] = out["trace.unaccounted_frac"] * roots_s * 1000.0 / n_ops
    ops_m = run.spark_ops.per_op() if run.spark_ops else {}
    for k, v in ops_m.items():
        out[f"spark.{k}"] = v
    if run.spark_ops:
        out["spark.task_skew"] = run.spark_ops.worst_skew
        busy_ms = run.spark_ops.totals["executor_run_ms"]
        if run.workload == "ingest":
            wall_ms = run.layer.get("drain_s", 0.0) * 1000.0
        else:
            wall_ms = roots_s * 1000.0
        if wall_ms:
            out["spark.executor_busy_frac"] = busy_ms / (
                wall_ms * (os.cpu_count() or 1))
    out["process.peak_rss_mb"] = run.peak_rss_mb
    out["process.driver_rss_mb"] = probes.driver_hwm_mb()
    out["process.jvm_heap_used_mb"] = run.heap_peak_mb
    for k, v in run.layer.items():
        if k in out:
            out[k] = float(v)
    return out


def e2e_metrics(run) -> dict[str, float]:
    return {"op_ms": run.op_ms, "throughput_per_s": run.throughput,
            "setup_s": run.setup_s}


def report(run, e2e, context) -> None:
    """Human-readable lines before the result line."""
    what, prefix, op, unit = OP_NAMES[run.workload]
    lat = run.latencies_ms
    n = len(lat)
    print(f"# {run.workload}: {n} timed samples ({op} each); "
          f"host {json.dumps(context)}")
    print(f"#   op_ms = {e2e['op_ms']:.3f} ms ({what})")
    for name, ms in run.per_query_ms.items():
        print(f"#     {name}: median {stats.median(ms):.1f} ms "
              f"(n={len(ms)})")
    if n >= 2 * stats.MIN_BEYOND:
        print(f"#   {prefix}_p50_ms = {stats.median(lat):.3f} ms (n={n})")
    p = stats.highest_percentile(n)
    if p is not None:
        print(f"#   {prefix}_p{p:.0f}_ms = {stats.tail(lat, p):.3f} ms "
              f"(n={n}, highest percentile with {stats.MIN_BEYOND} beyond)")
    print(f"#   throughput = {e2e['throughput_per_s']:.3f} {unit}")
    parts = ", ".join(f"{k} {v:.3f}" for k, v in run.setup_parts.items())
    print(f"#   setup_s = {e2e['setup_s']:.3f} s (one cold start: {parts})")
    print(f"#   peak_rss_mb = {run.peak_rss_mb:.1f} MB (sum of the peaks of "
          f"the driver, the JVM and the Python workers)")
    print(f"#   error_rate = {run.failed}/{run.attempted}")
    for e in run.errors[:20]:
        print(f"#   FAILED {e}")


def calibrate(spark) -> dict:
    """Host speed context: bench.py's single-thread CPU leg (imported)
    and a JVM leg of the same shape as its JVM leg at 1/25 the rows."""
    from pyspark.sql import functions as F

    from bench import _calib_cpu_loop

    t0 = time.perf_counter()
    _calib_cpu_loop()
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    (spark.range(20_000_000).groupBy((F.col("id") % 1024).alias("k"))
     .count().write.format("noop").mode("overwrite").save())
    return {"calib_cpu_s": round(cpu, 3),
            "calib_jvm_s": round(time.perf_counter() - t0, 3)}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "garmadon_spark", "__init__.py")):
        print("perfbench: run from the root of a garmadon-spark checkout "
              "(garmadon_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = harness.Run(root, args.workload, args.seed, args.seconds,
                      bool(args.trace))
    run.isolate()
    ticks0 = probes.cpu_ticks()
    try:
        WORKLOADS[args.workload](run)
        run.peak_rss_mb = probes.peak_rss_mb()
        context = probes.host_context(run.spark, args.seed, ticks0)
        if run.trace:  # host speed legs cost ~2 s: traced runs only
            context.update(calibrate(run.spark))
        if run.trace:
            metrics = layer_metrics(run)
            units = LAYER_UNITS
            run.tracer.flush(os.path.join(
                root, "perfbench", ".work", f"spans-{args.workload}.json"))
        else:
            metrics = e2e_metrics(run)
            units = E2E
        report(run, e2e_metrics(run), context)
    finally:
        run.stop_spark()
        run.cleanup()
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
