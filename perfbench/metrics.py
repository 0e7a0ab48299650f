"""Metric names and units (the names BENCHMARK.json lists; METRICS.md
defines them) and the fold from traced spans to per-layer values."""

from __future__ import annotations

import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


END_TO_END = {"job_s": "s", "records_per_s": "records/s", "setup_s": "s"}

_FULL = ("wall_s", "jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "py4j_calls",
         "output_bytes")
SPAN_FIELDS = {
    "sources.ingest_csv": ("wall_s", "jobs", "tasks", "executor_run_s", "py4j_calls",
                           "output_bytes"),
    "operators.mart.build_mart": ("wall_s", "py4j_calls"),
    "operators.mart.write": _FULL,
    "operators.compensation.apply_compensation": _FULL,
    "operators.upsert.write_and_swap": _FULL,
    "operators.upsert.swap_table_dir": ("wall_s",),
    "operators.dedup.minhash_lsh_pairs_incremental": ("wall_s", "py4j_calls"),
    "sources.sinks.write_bucketed": ("wall_s", "py4j_calls"),
    "streaming.pipeline.batch": _FULL,
}
DURATIONS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
_UNIT = {"wall_s": "s", "executor_run_s": "s", "shuffle_write_bytes": "bytes",
         "output_bytes": "bytes"}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark.wall_s": "s",
        "streaming.pipeline.stream_dedup_ingest.wall_s": "s",
        "warmup_s": "s",
        "trace.overhead_s": "s",
        "trace.job_count_mismatches": "count",
        "memory.driver_jvm_peak_mb": "MB",
        "memory.driver_py_peak_mb": "MB",
    }
    for span, fields in SPAN_FIELDS.items():
        for f in fields:
            units[f"{span}.{f}"] = _UNIT.get(f, "count")
    for d in DURATIONS:
        units[f"streaming.pipeline.durationMs.{d}"] = "ms"
    return units


def span_metrics(tracer, tags: list, groups: dict[str, dict],
                 extra: dict[str, list[float]]) -> dict[str, float]:
    """Per-layer values: for each span, its totals summed within each
    traced pass (``tags``), then the median over traced passes. Spans
    that never ran report 0. ``groups`` are the event-log totals per
    job group; ``extra`` maps further metric names to per-pass values."""
    from perfbench import trace

    totals = trace.span_totals(tracer.spans, groups)
    per_pass: dict[str, dict] = {}
    for sp in tracer.spans:
        if sp.tag is None:
            continue
        row = per_pass.setdefault(sp.name, {}).setdefault(sp.tag, dict.fromkeys(_FULL, 0.0))
        row["wall_s"] += sp.t1 - sp.t0
        row["py4j_calls"] += sp.py4j
        for f, v in totals[id(sp)].items():
            row[f] += v
    out = {}
    for span, fields in SPAN_FIELDS.items():
        rows = per_pass.get(span, {})
        for f in fields:
            out[f"{span}.{f}"] = median([rows.get(t, {}).get(f, 0.0) for t in tags])
    for name, vals in extra.items():
        out[name] = median(vals)
    return out
