"""Per-layer metrics of one traced operation, from its spans and the
event-log roll-up. Every metric is reported for every workload; a layer
an operation does not touch reads 0."""

from __future__ import annotations

import eventlog
from spans import Span, self_time

PER_LAYER = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "loader.refresh_s": "s",
    "loader.rows": "count",
    "scan.plan_s": "s",
    "scan.files_read": "count",
    "scan.rows_read": "count",
    "scan.useful_ratio": "ratio",
    "scan.cursors_s": "s",
    "parse.plan_s": "s",
    "parse.hit_ratio": "ratio",
    "lookup.plan_s": "s",
    "lookup.ok_ratio": "ratio",
    "lookup.broadcast_bytes": "bytes",
    "router.write_s": "s",
    "router.map_cpu_s": "s",
    "router.shuffle_write_bytes": "bytes",
    "router.spill_bytes": "bytes",
    "router.reduce_skew": "ratio",
    "router.files_written": "count",
    "router.bytes_written": "bytes",
    "aggregate.s": "s",
    "aggregate.bytes_read": "bytes",
    "aggregate.rows_out": "count",
    "checkpoint.write_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.self_s": "s",
    "dedup.band_s": "s",
    "dedup.bucket_shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "dedup.max_bucket": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-layer wall-time metric
SPAN_METRICS = {
    "scan.plan": "scan.plan_s",
    "parse.plan": "parse.plan_s",
    "lookup.plan": "lookup.plan_s",
    "router.write": "router.write_s",
    "aggregate": "aggregate.s",
    "scan.cursors": "scan.cursors_s",
    "checkpoint.write": "checkpoint.write_s",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def span_seconds(spans: list[Span], op: str, name: str) -> float:
    return sum(s.duration for s in spans if s.op == op and s.name == name)


def op_metrics(spans: list[Span], rolls, op: str, detail: dict) -> dict[str, float]:
    """The per-layer metrics of traced operation ``op``."""
    m = {name: 0.0 for name in PER_LAYER if not name.startswith(("trace.", "session.", "setup."))}
    whole = eventlog.merge(rolls, op)
    m["pipeline.jobs"] = whole.jobs
    m["pipeline.tasks"] = whole.tasks
    root = next(i for i, s in enumerate(spans) if s.op == op and s.parent is None)
    stats = detail.get("metrics")
    if stats is not None:  # a run_pipeline operation
        for span, metric in SPAN_METRICS.items():
            m[metric] = span_seconds(spans, op, span)
        m["pipeline.self_s"] = self_time(spans, root)
        rows = stats["stages"]["scan"]["rows"]
        router = eventlog.merge(rolls, op, ("router.write",))
        m["scan.files_read"] = router.sql["scan_files"]
        m["scan.rows_read"] = router.sql["scan_rows"]
        m["scan.useful_ratio"] = _ratio(rows, router.sql["scan_rows"])
        m["parse.hit_ratio"] = _ratio(stats["stages"]["parse"]["parse_hits"], rows)
        m["lookup.ok_ratio"] = _ratio(stats["stages"]["enrich"]["lookups_ok"], rows)
        m["lookup.broadcast_bytes"] = router.sql["broadcast_bytes"]
        m["router.map_cpu_s"] = router.map_cpu_s
        m["router.shuffle_write_bytes"] = router.total("shuffle_write_bytes")
        m["router.spill_bytes"] = router.total("spill_bytes")
        m["router.reduce_skew"] = router.reduce_skew
        m["router.files_written"] = router.sql["files_written"]
        m["router.bytes_written"] = router.total("output_bytes")
        agg = eventlog.merge(rolls, op, ("aggregate", "aggregate.hourly_counts"))
        m["aggregate.bytes_read"] = agg.total("input_bytes")
        m["aggregate.rows_out"] = sum(stats["agg_rows"].values())
    else:  # a near_dup operation
        band = eventlog.merge(rolls, op, ("dedup.candidates", "dedup.band"))
        m["dedup.bucket_shuffle_bytes"] = band.total("shuffle_write_bytes")
        m["dedup.spill_bytes"] = whole.total("spill_bytes")
        m["dedup.candidate_pairs"] = detail["candidates"]
        m["dedup.verified_pairs"] = detail["verified"]
        m["dedup.verify_ratio"] = _ratio(detail["verified"], detail["candidates"])
    return m


def setup_metrics(spans: list[Span], op: str) -> dict[str, float]:
    """Dimension-load metrics of one traced setup."""
    loads = [s for s in spans if s.op == op and s.name == "loader.refresh"]
    return {"loader.refresh_s": sum(s.duration for s in loads),
            "loader.rows": sum(s.attrs.get("rows") or 0 for s in loads)}
