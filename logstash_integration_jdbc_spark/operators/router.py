"""Tag/predicate routing — the reference's output fan-out.

Logstash routes on tags in the output block
(``if "_jdbcstaticdefaultsused" in [tags] { ... }``,
/root/reference/docs/filter-jdbc_static.asciidoc:135-140) and gates
downstream decoration on ``filter_matched`` only when all lookups
succeeded (jdbc_static.rb:161-164). Here a Router splits one enriched
DataFrame into per-sink DataFrames and writes each to a parquet/Iceberg
sink partitioned by a time bucket, with salted repartitioning for hot
conv_id keys (north_rule skew clause).

Routing modes:
- ``exclusive=True`` (default): first matching route wins, remainder
  falls through to ``default_sink`` — Logstash if/elsif/else semantics.
- ``exclusive=False``: an event lands in every matching sink — multiple
  independent `if` blocks.

Scale note: exclusive routing writes every sink in one pass — one salted
exchange keyed on (sink, ts_hour[, run_id], salt), whose reducer count
AQE sizes to the batch, then one dynamic-partition write; the per-sink
counts ride that write as observed metrics. Each partition dir gets at
most ``n_salts`` files, and a hot key spreads over its salts. Multicast
routing persists the frame, then counts and writes each sink through its
own salted exchange.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.skew import salted_repartition


@dataclass
class Route:
    name: str
    condition: Column


class Router:
    def __init__(self, routes: list[Route], default_sink: str | None = "unmatched",
                 exclusive: bool = True) -> None:
        names = [r.name for r in routes] + ([default_sink] if default_sink else [])
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate sink names: {names}")
        self.routes = routes
        self.default_sink = default_sink
        self.exclusive = exclusive
        self.last_observed: dict[str, object] = {}

    def split(self, df: DataFrame) -> dict[str, DataFrame]:
        """sink name → routed DataFrame (lazy; no action triggered)."""
        out: dict[str, DataFrame] = {}
        seen: Column = F.lit(False)
        for r in self.routes:
            cond = r.condition & ~seen if self.exclusive else r.condition
            out[r.name] = df.filter(cond)
            seen = seen | r.condition
        if self.default_sink is not None:
            out[self.default_sink] = df.filter(~seen)
        return out

    def sink_expr(self) -> Column:
        """Exclusive routing as one CASE column (first match wins).

        This is the single-pass form: instead of N filtered writes, the
        whole fan-out becomes ONE write partitioned by the sink column —
        one shuffle, one pass, any number of sinks. Only valid for
        exclusive routing (an event lands in exactly one sink).
        """
        if not self.exclusive:
            raise ValueError("sink_expr requires exclusive routing")
        expr = None
        for r in self.routes:
            expr = F.when(r.condition, r.name) if expr is None else expr.when(r.condition, r.name)
        default = self.default_sink if self.default_sink is not None else self.routes[-1].name
        return expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)

    def write_all(
        self,
        df: DataFrame,
        base_dir: str,
        ts_col: str = "ts",
        salt_col: str = "conv_id",
        n_salts: int = 8,
        fmt: str = "parquet",
        run_id: str | None = None,
        extra_observe: dict[str, Column] | None = None,
        catalog_table: str | None = None,
    ) -> dict[str, int]:
        """Write every sink, hour-partitioned and salt-spread; returns counts.

        Sink layout: ``base_dir/<sink>/ts_hour=YYYY-MM-DD-HH[/run_id=…]``.
        With ``run_id`` (deterministic per batch, e.g. the starting
        watermark) and dynamic partition overwrite, a rerun of a failed
        batch rewrites exactly its own partitions → exactly-once sink
        contents; successive batches append new run_id partitions.

        Table formats are pluggable two ways:

        - ``fmt``: any DataSource format for the path-based write
          (parquet default; json/csv/orc tested).
        - ``catalog_table``: route the single-pass fan-out through the
          DataFrameWriterV2 ``writeTo`` API instead of a path — the
          production Iceberg shape (``USING iceberg`` once the runtime
          ships iceberg-spark-runtime jars + a catalog; this sandbox has
          neither, so tests exercise the same code path against the
          session catalog with parquet). First write creates the table
          partitioned by (sink, ts_hour[, run_id]); reruns
          ``overwritePartitions()`` — Iceberg's dynamic overwrite, the
          same exactly-once semantics as the path write.
        """
        df = df.withColumn("ts_hour", F.date_format(F.date_trunc("hour", F.col(ts_col)), "yyyy-MM-dd-HH"))
        part_cols = ["ts_hour"]
        if run_id is not None:
            df = df.withColumn("run_id", F.lit(run_id))
            part_cols.append("run_id")

        if self.exclusive:
            # single-pass fan-out: ONE salted shuffle + ONE write
            # partitioned by (sink, ts_hour[, run_id]). Per-sink counts
            # ride along as observed metrics on the write action itself —
            # no second pass over the data.
            from pyspark.sql import Observation

            names = [r.name for r in self.routes] + (
                [self.default_sink] if self.default_sink else []
            )
            routed = df.withColumn("sink", self.sink_expr())
            obs = Observation()
            exprs = [F.sum(F.when(F.col("sink") == n, 1).otherwise(0)).alias(n)
                     for n in names]
            for alias, col in (extra_observe or {}).items():
                exprs.append(col.alias(alias))
            routed = routed.observe(obs, *exprs)
            all_parts = ["sink"] + part_cols
            # (sink, ts_hour[, run_id], salt) partitioning WITHOUT the
            # raw key column: each reduce task holds a few whole
            # partition-dir groups, so output files ≈ dirs × salts
            # rather than tasks × dirs (see salted_repartition).
            out = salted_repartition(routed, key=salt_col, n_salts=n_salts,
                                     extra_cols=all_parts)
            if catalog_table is not None:
                spark = out.sparkSession
                if not spark.catalog.tableExists(catalog_table):
                    out.writeTo(catalog_table).using(fmt).partitionedBy(
                        F.col(all_parts[0]), *[F.col(c) for c in all_parts[1:]]
                    ).create()
                else:
                    try:
                        # V2 dynamic overwrite — the Iceberg path
                        out.writeTo(catalog_table).overwritePartitions()
                    except Exception as e:
                        # Fall back ONLY for the capability gap (v1
                        # session-catalog tables don't take V2 writes) —
                        # a genuine data/write error must surface, not be
                        # silently rerouted after a possible partial write.
                        # Matched by the unsupported-operation error class /
                        # message only: a schema or column mismatch is ALSO
                        # an AnalysisException and must NOT be rerouted to
                        # the positional insertInto.
                        msg = str(e)
                        err_class = getattr(e, "getCondition", lambda: None)() or ""
                        v1_gap = ("TABLE_OPERATION" in err_class
                                  or "Cannot write into v1 table" in msg
                                  or "UnsupportedOperation" in msg
                                  or "does not support" in msg
                                  or "TABLE_OPERATION" in msg)
                        if not v1_gap:
                            raise
                        import logging

                        logging.getLogger(__name__).warning(
                            "V2 overwritePartitions unsupported for %s; "
                            "falling back to dynamic insertInto (%s)",
                            catalog_table, msg.splitlines()[0] if msg else type(e).__name__)
                        # v1 session-catalog tables (this sandbox) don't
                        # take V2 writes: same semantics via dynamic
                        # partition-overwrite insertInto
                        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
                        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
                        try:
                            # insertInto is positional; the catalog moves
                            # partition columns to the end of the schema.
                            # Guard: name-sets must align exactly, else the
                            # positional write could commit misordered data.
                            cols = spark.table(catalog_table).columns
                            missing = set(cols) - set(out.columns)
                            extra = set(out.columns) - set(cols)
                            if missing or extra:
                                raise ValueError(
                                    f"column mismatch vs {catalog_table}: "
                                    f"missing={sorted(missing)} extra={sorted(extra)}"
                                ) from e
                            out.select(*cols).write.mode("overwrite").insertInto(catalog_table)
                        finally:
                            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            else:
                out.write.mode("overwrite").partitionBy(*all_parts).format(fmt).save(base_dir)
            try:
                got = dict(obs.get)
            except Exception:
                # Observation.get raises on degenerate plans (e.g. an
                # empty incremental batch writes zero partitions and the
                # metrics row never materializes) — fall back to one
                # aggregation pass, which is cheap exactly in those cases.
                agg = routed.groupBy().agg(
                    *[F.sum(F.when(F.col("sink") == n, 1).otherwise(0)).alias(n)
                      for n in names],
                    *[c.alias(a) for a, c in (extra_observe or {}).items()],
                ).collect()[0]
                got = agg.asDict()
            counts = {n: int(got.get(n) or 0) for n in names}
            if extra_observe:
                self.last_observed = {k: got.get(k) for k in extra_observe}
            return counts

        # multicast (non-exclusive): per-sink writes are unavoidable —
        # an event may land in several sinks.
        df = df.persist()
        try:
            counts = {}
            for name, sink_df in self.split(df).items():
                sink_df = salted_repartition(sink_df, key=salt_col, n_salts=n_salts,
                                             extra_cols=part_cols)
                path = os.path.join(base_dir, f"sink={name}")
                n = sink_df.count()
                if n > 0:
                    sink_df.write.mode("overwrite").partitionBy(*part_cols).format(fmt).save(path)
                counts[name] = n
            return counts
        finally:
            df.unpersist()
