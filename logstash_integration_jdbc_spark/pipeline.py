"""The flagship end-to-end job: parse → enrich → route → aggregate.

One resumable batch over a transcript table, reproducing the reference's
pipeline semantics (incremental checkpointed scan → lookup enrichment
with defaults/tags → tag-routed fan-out) with Spark-native physics:

- scan: parquet/Iceberg read with the watermark predicate pushed into the
  file scan (S2);
- parse: grok-compiled ``regexp_extract`` — whole-stage codegen, zero
  Python (north_star "no per-row Python");
- enrich: broadcast hash joins with jdbc_static semantics (J2/J4/R1-R3)
  against max_rows-guarded dimensions (S9); each lookup's dimension side
  is compiled once per dimension load and reused every batch;
- route: tag/predicate fan-out to hour-partitioned, salt-spread sinks
  (R4) through one exchange whose reducer count AQE sizes to the batch;
- aggregate: per-sink (role, tool, hour) counts — map-side partial agg —
  over a read-back of only this run's sink partitions, with a known
  schema, so a run's cost does not grow with the committed history;
- checkpoint: scalar max-ts watermark + per-partition cursors, taken from
  the same read-back and written atomically ONLY after all sinks and the
  aggregate committed (at-least-once, S3). An empty batch writes no sink
  or aggregate data and leaves the checkpoint's values as they were.

The per-stage row counters (rows scanned, parse hits, lookups ok) and the
per-sink counts ride the sink write as ONE ``observe`` node: no extra
actions, and one node rather than one per stage keeps whole-stage codegen
in one piece.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls
from logstash_integration_jdbc_spark.operators.aggregate import hourly_counts
from logstash_integration_jdbc_spark.operators.lookup import (
    OK_COL,
    TAGS_COL,
    Lookup,
    LookupProcessor,
)
from logstash_integration_jdbc_spark.operators.router import Route, Router
from logstash_integration_jdbc_spark.sources.loader import DimensionLoader
from logstash_integration_jdbc_spark.sources.scan import (
    incremental_scan,
    partition_cursors,
)
from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker

def _fmt_run_id(watermark) -> str:
    s = str(watermark)
    return "".join(ch for ch in s if ch.isalnum())


def with_retries(fn, attempts: int = 1, wait_s: float = 0.5, logger=None):
    """Reference statement-retry semantics: re-run ``fn`` up to
    ``attempts`` extra times with a fixed wait (defaults 1×/0.5 s,
    /root/reference/lib/logstash/plugin_mixins/jdbc/jdbc.rb:111-114,
    retry loop :234-246). The caller's watermark only advances after
    success, so an exhausted retry leaves the batch fully re-runnable —
    and the deterministic run_id makes the retried write idempotent
    (dynamic overwrite of the same partitions)."""
    tries = attempts + 1
    for i in range(tries):
        try:
            return fn()
        except Exception:
            if i == tries - 1:
                raise
            if logger:
                logger.warning("attempt %d/%d failed; retrying in %.1fs",
                               i + 1, tries, wait_s)
            time.sleep(wait_s)


TAG_TOOL_DEFAULT = "_tool_dim_default_used"
TAG_TOOL_FAILURE = "_tool_lookup_failure"
TAG_ROLE_DEFAULT = "_role_dim_default_used"


@dataclass
class PipelineConfig:
    transcripts_path: str | list[str]  # table dir, or explicit shard files
    tool_dim_path: str
    role_dim_path: str
    out_dir: str
    checkpoint_path: str | None = None
    clean_run: bool = False
    record_last_run: bool = True
    tracking_column: str = "ts"
    n_salts: int = 8
    max_dim_rows: int = 1_000_000
    # reference defaults: statement_retry_attempts 1, wait 0.5 s
    # (jdbc.rb mixin :111-114); retries re-run the whole sink write under
    # the same run_id (idempotent dynamic overwrite)
    statement_retry_attempts: int = 1
    statement_retry_wait_s: float = 0.5


# Dimension loaders memoized per (session, path): the count-guard and
# cache() run once per process, not once per batch — the reference's
# SingleLoadRunner semantics (load once, reuse until loader_schedule
# fires; refresh() is the explicit reload).
_DIM_CACHE: dict[tuple[int, str], DimensionLoader] = {}


def _dim(spark: SparkSession, name: str, path: str, max_rows: int) -> DimensionLoader:
    key = (id(spark), path)
    if key not in _DIM_CACHE:
        _DIM_CACHE[key] = DimensionLoader(
            name, lambda: spark.read.parquet(path), max_rows=max_rows
        )
        _DIM_CACHE[key].get()
    return _DIM_CACHE[key]


# The processor built over the loaders' current DataFrames, per (session,
# dimension paths): its lookups compile their dimension side once and
# reuse it every batch; a refresh() hands out a new DataFrame, which
# builds a new processor.
_LOOKUPS: dict[tuple[int, str, str], tuple[tuple[DataFrame, ...], LookupProcessor]] = {}


def build_lookups(spark: SparkSession, cfg: PipelineConfig) -> LookupProcessor:
    tool_dim = _dim(spark, "tool_dim", cfg.tool_dim_path, cfg.max_dim_rows).get()
    role_dim = _dim(spark, "role_dim", cfg.role_dim_path, cfg.max_dim_rows).get()
    key = (id(spark), cfg.tool_dim_path, cfg.role_dim_path)
    hit = _LOOKUPS.get(key)
    if hit is not None and hit[0][0] is tool_dim and hit[0][1] is role_dim:
        return hit[1]
    tool_lookup = Lookup(
        id="tool_info",
        dim=tool_dim,
        on=[("tool", "=", "tool")],
        parameters={"tool": "[tool_call]"},  # parsed field, field-ref scheme
        select=["tool_name", "tool_category"],
        default_hash={"tool_name": "unknown", "tool_category": "unknown"},
        tag_on_failure=[TAG_TOOL_FAILURE],
        tag_on_default_use=[TAG_TOOL_DEFAULT],
    )
    role_lookup = Lookup(
        id="role_info",
        dim=role_dim,
        on=[("role", "=", "role")],
        parameters={"role": "[role]"},
        select=["role_label", "role_rank"],
        default_hash={"role_label": "unknown", "role_rank": -1},
        tag_on_failure=["_role_lookup_failure"],
        tag_on_default_use=[TAG_ROLE_DEFAULT],
    )
    processor = LookupProcessor([tool_lookup, role_lookup])
    _LOOKUPS[key] = ((tool_dim, role_dim), processor)
    return processor


def enrich(df: DataFrame, processor: LookupProcessor) -> DataFrame:
    return processor.enhance(df)


def build_router() -> Router:
    defaults_used = F.array_contains(F.col(TAGS_COL), TAG_TOOL_DEFAULT) | F.array_contains(
        F.col(TAGS_COL), TAG_ROLE_DEFAULT
    )
    return Router(
        routes=[
            Route("parse_miss", ~F.col("parse_ok")),
            Route("defaults_used", defaults_used),
            Route("matched", F.col(OK_COL) & F.col("parse_ok")),
        ],
        default_sink="failed",
    )


def commit_aggregate(
    spark: SparkSession, out_dir: str, run_id: str, schema: T.StructType,
    sink_counts: dict[str, int],
) -> tuple[DataFrame | None, dict[str, int]]:
    """Read back this run's committed sinks, write their per-sink (role,
    tool, hour) counts to ``out_dir/agg``; return the read-back and the
    aggregate write's observed rows per sink (``(None, {})`` when the run
    committed no rows).

    The read lists only this run_id's directories and the schema is
    known (``schema`` plus the three string partition columns), so it
    runs no schema-inference job (nor a listing job, up to Spark's
    32-path parallel-discovery threshold) and does not grow with the
    number of committed runs. The directories are globbed on the driver:
    handed one glob path, Spark's sink-metadata probe stats the literal
    pattern and logs a ``FileNotFoundException`` on every run.
    """
    total = sum(sink_counts.values())
    if total == 0:
        return None, {}
    from pyspark.sql import Observation

    sinks_dir = os.path.join(out_dir, "sinks")
    leaves = sorted(glob.glob(os.path.join(
        glob.escape(sinks_dir), "sink=*", "ts_hour=*", f"run_id={run_id}")))
    if not leaves:
        raise RuntimeError(
            f"run {run_id} committed {total} sink rows but no "
            f"run_id={run_id} partition exists under {sinks_dir}")
    schema = T.StructType(schema.fields + [
        T.StructField(c, T.StringType()) for c in ("sink", "ts_hour", "run_id")])
    committed = (spark.read.schema(schema).option("basePath", sinks_dir)
                 .parquet(*leaves))
    agg = hourly_counts(committed, keys=("sink", "role", "tool")).withColumn(
        "run_id", F.lit(run_id)
    )
    sink_names = [k for k, v in sink_counts.items() if v > 0]
    agg_obs = Observation()
    agg = agg.observe(agg_obs, *[
        F.sum(F.when(F.col("sink") == n, 1).otherwise(0)).alias(n)
        for n in sink_names
    ])
    agg.write.mode("overwrite").partitionBy("sink", "run_id").parquet(
        os.path.join(out_dir, "agg"))
    got = agg_obs.get
    return committed, {n: int(got[n] or 0) for n in sink_names}


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, Any]:
    """Execute one resumable batch; returns metrics + sink counts.

    The batch is every row whose tracking column is strictly above the
    committed watermark. A row that lands in the table after a batch
    with max ts T committed, with ts at or below T, is never scanned: it
    reaches no sink or aggregate and moves neither the watermark nor the
    cursors (the reference drops late data the same way). A checkpoint
    file that is not valid JSON raises before anything is written.
    """
    t0 = time.time()
    tracker = ValueTracker(
        path=cfg.checkpoint_path,
        tracking_type="timestamp",
        clean_run=cfg.clean_run,
        record_last_run=cfg.record_last_run,
    )

    paths = (cfg.transcripts_path if isinstance(cfg.transcripts_path, list)
             else [cfg.transcripts_path])
    raw = spark.read.parquet(*paths)
    scanned = incremental_scan(raw, cfg.tracking_column, tracker.value)
    parsed = parse_tool_calls(scanned)
    processor = build_lookups(spark, cfg)
    enriched = enrich(parsed, processor)

    # run_id: deterministic per batch (the starting watermark) — a rerun
    # of a failed batch regenerates the same id and dynamically overwrites
    # exactly its own sink partitions.
    run_id = _fmt_run_id(tracker.value)

    # Single-pass fan-out: one salted shuffle, one write partitioned by
    # (sink, ts_hour, run_id). No persist — the aggregate and the cursors
    # read the committed sinks back, so the batch is computed once.
    # ALL per-stage lineage counters ride the write action as ONE
    # CollectMetrics node. One node, not one per stage: each observe()
    # splits whole-stage codegen, and three of them measured +90% wall on
    # the write job — the metrics are free only if they share one node.
    router = build_router()
    sink_counts = with_retries(
        lambda: router.write_all(
            enriched, os.path.join(cfg.out_dir, "sinks"),
            ts_col="ts", salt_col="conv_id", n_salts=cfg.n_salts,
            run_id=run_id,
            extra_observe={
                "rows": F.count(F.lit(1)),
                "parse_hits": F.sum(F.col("parse_ok").cast("long")),
                "lookups_ok": F.sum(F.col(OK_COL).cast("long")),
            },
        ),
        attempts=cfg.statement_retry_attempts,
        wait_s=cfg.statement_retry_wait_s,
    )
    observed = router.last_observed

    # The sinks hold every scanned row exactly once, so one read-back of
    # THIS run's partitions feeds both the aggregate and the cursors.
    committed, agg_counts = commit_aggregate(
        spark, cfg.out_dir, run_id, enriched.schema, sink_counts)
    cursors: dict[str, dict[str, Any]] = {}
    if committed is not None:
        # Per-partition cursors from the committed rows: the same values
        # as over the scan, without opening every table file again.
        cursors = partition_cursors(committed, ts_col=cfg.tracking_column)

    # Checkpoint: advance ONLY now, after every sink and the aggregate
    # committed (at-least-once; a failure above leaves the old watermark
    # intact and the rerun overwrites the same run_id partitions
    # idempotently). The global watermark is the max over the cursors.
    new_mark = max((c["max_ts"] for c in cursors.values()), default=None)
    if new_mark is not None:
        tracker.set_value(new_mark)
        tracker.set_partitions(cursors)
    tracker.write()

    n_rows = int(observed.get("rows") or 0)
    metrics = {
        "run_id": run_id,
        "elapsed_sec": time.time() - t0,
        "stages": {
            "scan": {"rows": n_rows},
            "parse": {"rows": n_rows, "parse_hits": int(observed.get("parse_hits") or 0)},
            "enrich": {"rows": n_rows, "lookups_ok": int(observed.get("lookups_ok") or 0)},
        },
        "sinks": sink_counts,
        "agg_rows": agg_counts,
        "watermark": str(tracker.value),
    }
    if cfg.out_dir:
        os.makedirs(cfg.out_dir, exist_ok=True)
        with open(os.path.join(cfg.out_dir, "metrics.json"), "w", encoding="utf-8") as fh:
            json.dump(metrics, fh, default=str, indent=2)
    return metrics
