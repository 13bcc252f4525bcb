"""Turns a run record into the benchmark's metrics.

Kept free of I/O so the tests can exercise it directly.
"""
import math
import statistics

# (name, unit) of every end-to-end metric, in BENCHMARK.json order.
END_TO_END = [
    ("setup_s", "s"),
    ("backfill_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("ok_ops_frac", "frac"),
    ("peak_rss_mb", "MB"),
]

_PHASES = ("construct", "exec")
PER_LAYER = (
    [("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
     ("queries.construct_stages", "count"), ("queries.construct_tasks", "count"),
     ("plans.analysis_s", "s"), ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
     ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count")]
    + [(f"{m}.{p}", "rows" if m.endswith("rows") else "bytes")
       for m in ("shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes", "scan.input_bytes",
                 "write.output_bytes", "write.output_rows") for p in _PHASES]
    + [("scratch.cache_bytes", "bytes"), ("scratch.run_bytes", "bytes"), ("scratch.persisted_rdds", "count")]
    + [(f"pipeline.{t}_s", "s") for t in ("pos_payments", "pos_order_items", "pos_catalog",
                                           "pos_inventory", "pos_categories", "pos_locations")]
    + [("pipeline.unattributed_s", "s"), ("pipeline.jobs", "count"),
       ("sources.json_input_bytes", "bytes"), ("sources.json_records", "rows"),
       ("upsert.rows_written", "rows"), ("upsert.bytes_written", "bytes"), ("upsert.write_amp", "ratio"),
       ("backfill.pipeline.jobs", "count"), ("backfill.sources.json_records", "rows"),
       ("backfill.upsert.rows_written", "rows"), ("backfill.upsert.write_amp", "ratio")]
    + [("sentinel.cpu_s", "s"), ("sentinel.io_s", "s"), ("trace.overhead_frac", "frac"),
       ("trace.pass_s", "s")]
)

TAIL_BEYOND = 10


def tail(values):
    """(percentile, value): the highest whole percentile whose nearest-rank
    sample still has at least ten samples above it. Below twenty samples
    no percentile past the median qualifies, and the tail is the median."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 50, 0.0
    for p in range(99, 49, -1):
        k = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - k >= TAIL_BEYOND:
            return p, s[k - 1]
    return 50, statistics.median(s)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(rec, setup_start, wrong):
    """Metrics of an untraced run. ``wrong`` names operations whose output
    check failed; each of their executions counts as failed."""
    ops = rec.get("ops", [])
    ok = [o for o in ops if o["status"] == "ok" and o["name"] not in wrong]
    attempted = max(1, len(ops))
    failed = attempted - len(ok)
    passes = [p["secs"] for p in rec.get("passes", []) if not p.get("traced")]
    secs = [o["secs"] for o in ok]
    p, tail_v = tail(secs)
    measure = rec.get("measure_start_ms")
    values = {
        "setup_s": (measure / 1000.0 - setup_start) if measure else 0.0,
        "backfill_s": rec.get("cold_s", 0.0),
        "pass_s": _median(passes),
        "op_p50_s": _median(secs),
        "op_tail_s": tail_v,
        "ok_ops_frac": (attempted - failed) / attempted,
        "peak_rss_mb": rec.get("peak_rss_kb", 0) / 1024.0,
    }
    extra = {"tail_percentile": p, "op_samples": len(secs)}
    return values, attempted, failed, extra


def per_layer(rec, wrong):
    """Metrics of a traced run: the JVM's per-pass layer sums plus the
    ratios computed here."""
    layers = dict(rec.get("layers", {}))
    passes = rec.get("passes", [])
    traced = [p["secs"] for p in passes if p.get("traced")]
    untraced = [p["secs"] for p in passes if not p.get("traced")]
    layers["trace.pass_s"] = _median(traced)
    layers["trace.overhead_frac"] = (_median(traced) / _median(untraced) - 1.0) if traced and untraced else 0.0
    for prefix in ("", "backfill."):
        emitted = layers.get(prefix + "upsert.transform_rows", 0.0)
        written = layers.get(prefix + "upsert.rows_written", 0.0)
        layers[prefix + "upsert.write_amp"] = written / emitted if emitted else 0.0
    values = {name: float(layers.get(name, 0.0)) for name, _ in PER_LAYER}
    ops = rec.get("ops", [])
    attempted = max(1, len(ops))
    failed = attempted - sum(1 for o in ops if o["status"] == "ok" and o["name"] not in wrong)
    extra = {}
    if layers["trace.pass_s"]:
        extra = {"construct_share": values["queries.construct_s"] / layers["trace.pass_s"],
                 "exec_share": values["exec.run_s"] / layers["trace.pass_s"]}
    return values, attempted, failed, extra


def result_line(values, units, correct, attempted, failed):
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units}}
