"""Tag-routing fan-out (R4) + loader guard (S9) + skew salting."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.router import Route, Router
from logstash_integration_jdbc_spark.operators.skew import salted_repartition
from logstash_integration_jdbc_spark.sources.loader import DimensionLoader, LoaderError


@pytest.fixture()
def tagged(spark):
    rows = [("c1", 0, ["_default"]), ("c1", 1, []), ("c2", 0, ["_failure"]),
            ("c2", 1, ["_default", "_failure"])]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, tags array<string>")


def test_exclusive_first_match_wins(tagged):
    r = Router([
        Route("failed", F.array_contains("tags", "_failure")),
        Route("defaults", F.array_contains("tags", "_default")),
    ], default_sink="ok")
    sinks = {k: {(x.conv_id, x.turn_idx) for x in v.collect()} for k, v in r.split(tagged).items()}
    assert sinks["failed"] == {("c2", 0), ("c2", 1)}
    assert sinks["defaults"] == {("c1", 0)}  # (c2,1) already claimed by failed
    assert sinks["ok"] == {("c1", 1)}


def test_non_exclusive_multicast(tagged):
    r = Router([
        Route("failed", F.array_contains("tags", "_failure")),
        Route("defaults", F.array_contains("tags", "_default")),
    ], default_sink=None, exclusive=False)
    sinks = {k: v.count() for k, v in r.split(tagged).items()}
    assert sinks == {"failed": 2, "defaults": 2}


def test_partition_totals_preserved(tagged):
    r = Router([Route("d", F.array_contains("tags", "_default"))])
    assert sum(df.count() for df in r.split(tagged).values()) == tagged.count()


def test_duplicate_sink_names_rejected():
    with pytest.raises(ValueError):
        Router([Route("a", F.lit(True)), Route("a", F.lit(False))])


def test_write_layout_hour_partitioned(spark, tmp_path, transcripts):
    df = transcripts.limit(2000).withColumn("tags", F.array().cast("array<string>"))
    r = Router([Route("all", F.lit(True))], default_sink=None)
    counts = r.write_all(df, str(tmp_path), n_salts=4)
    assert counts["all"] == 2000
    parts = os.listdir(str(tmp_path / "sink=all"))
    assert any(p.startswith("ts_hour=") for p in parts)
    back = spark.read.parquet(str(tmp_path / "sink=all"))
    assert back.count() == 2000


def _partition_sizes(df):
    """Rows per partition of ``df`` with AQE coalescing off, so a salted
    exchange shows its raw spark.sql.shuffle.partitions (8) partitions."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return [r.n for r in df.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count(F.lit(1)).alias("n")).collect()]
    finally:
        spark.conf.set(key, old)


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(0, 10000).select(
        F.lit("hot").alias("conv_id"), F.col("id").cast("int").alias("turn_idx")
    )
    sizes = _partition_sizes(salted_repartition(df, "conv_id", n_salts=8))
    # a plain repartition("conv_id") puts all 10k rows in ONE partition;
    # salting must spread them across several.
    assert len(sizes) >= 4
    assert max(sizes) < 10000 * 0.5


def test_salted_repartition_spreads_hot_key_without_row_columns(spark):
    # No turn_idx/ts: the row part of the salt comes from the other
    # scalar columns (the map column is skipped; hashing it would fail).
    df = spark.range(0, 10000).select(
        F.lit("hot").alias("conv_id"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("payload"),
        F.create_map(F.lit("k"), F.col("id")).alias("attrs"),
    )
    sizes = _partition_sizes(salted_repartition(df, "conv_id", n_salts=8))
    assert len(sizes) >= 4
    assert max(sizes) < 10000 * 0.5


def test_loader_guards(spark):
    empty = DimensionLoader("e", lambda: spark.range(0).selectExpr("id as k"))
    with pytest.raises(LoaderError, match="0 rows"):
        empty.get()
    big = DimensionLoader("b", lambda: spark.range(100).selectExpr("id as k"), max_rows=10)
    with pytest.raises(LoaderError, match="max_rows"):
        big.get()
    ok = DimensionLoader("ok", lambda: spark.range(5).selectExpr("id as k"), max_rows=10)
    assert ok.get().count() == 5
    assert ok.reload_count == 1
    ok.refresh()
    assert ok.reload_count == 2  # S13 repeated load metric


@pytest.fixture()
def enriched(spark, transcripts):
    from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls

    return parse_tool_calls(transcripts.limit(2000)).withColumn(
        "tags", F.array().cast("array<string>")
    )


def test_write_all_format_pluggable_json(spark, enriched, tmp_path):
    """`fmt` must plug any DataSource format into the same single-pass
    fan-out (Iceberg constraint documented in README; json proves the
    writer is not parquet-bound)."""
    base = str(tmp_path / "sinks_json")
    router = Router(
        routes=[Route("matched", F.col("parse_ok"))], default_sink="other"
    )
    counts = router.write_all(enriched, base, fmt="json")
    back = spark.read.json(f"{base}/sink=matched")
    assert back.count() == counts["matched"] > 0


@pytest.mark.filterwarnings("error::FutureWarning")
def test_write_all_catalog_table_v2(spark, enriched, tmp_path):
    """catalog_table routes through DataFrameWriterV2 (the Iceberg API
    shape): create-partitioned on first write, overwritePartitions on
    rerun — identical contents after an idempotent rerun."""
    router = Router(
        routes=[Route("matched", F.col("parse_ok"))], default_sink="other"
    )
    tbl = "spark_catalog.default.router_sinks_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/router_sinks_t", ignore_errors=True)
    counts = router.write_all(enriched, base_dir="", catalog_table=tbl, run_id="r1")
    n1 = spark.table(tbl).count()
    assert n1 == sum(counts.values()) > 0
    # rerun of the same batch must not duplicate (dynamic overwrite)
    router.write_all(enriched, base_dir="", catalog_table=tbl, run_id="r1")
    assert spark.table(tbl).count() == n1
    parts = {r.sink for r in spark.table(tbl).select("sink").distinct().collect()}
    assert parts == set(counts) - {k for k, v in counts.items() if v == 0}
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.skipif(
    not os.environ.get("ICEBERG_JARS"),
    reason="Iceberg runtime verification: set ICEBERG_JARS=/path/to/"
           "iceberg-spark-runtime-<ver>.jar and run this test alone "
           "(it builds its own SparkSession with the jars + catalog)",
)
def test_iceberg_catalog_table_end_to_end(tmp_path):
    """One-command readiness check for a real lakehouse deployment:
    the same write_all(catalog_table=...) used by the pipeline, against
    a genuine Iceberg hadoop catalog — create, then idempotent
    overwritePartitions rerun. Run standalone:

        ICEBERG_JARS=/path/iceberg-spark-runtime-3.5_2.13-1.5.0.jar \
            python -m pytest tests/test_router.py -k iceberg -q
    """
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        pytest.skip("needs a fresh JVM: run this test alone")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-verify")
        .config("spark.jars", os.environ["ICEBERG_JARS"])
        .config("spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        df = spark.range(100).select(
            F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
            F.col("id").alias("turn_idx"),
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("kind"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
        router = Router(routes=[Route("a", F.col("kind") == "a")],
                        default_sink="other")
        tbl = "ice.db.sinks"
        counts = router.write_all(df, base_dir="", catalog_table=tbl,
                                  run_id="r1", n_salts=2)
        assert spark.table(tbl).count() == sum(counts.values()) == 100
        # rerun same run_id → V2 overwritePartitions, not duplication
        router.write_all(df, base_dir="", catalog_table=tbl,
                         run_id="r1", n_salts=2)
        assert spark.table(tbl).count() == 100
        # Iceberg metadata must exist (proves the V2 path, not a v1 fallback)
        assert (tmp_path / "wh" / "db" / "sinks" / "metadata").exists()
    finally:
        spark.stop()


def test_salted_repartition_with_key_false_spreads_and_bounds_files(
        spark, tmp_path, transcripts):
    # r6 optimization: the router's write exchange keys on
    # (partition dirs, salt) WITHOUT the raw conv_id column, so each
    # reduce task holds whole (dir, salt) groups → every partition dir
    # gets at most n_salts files instead of O(tasks) files.
    df = transcripts.limit(4000).withColumn("tags", F.array().cast("array<string>"))
    r = Router([Route("all", F.lit(True))], default_sink=None)
    n_salts = 4
    counts = r.write_all(df, str(tmp_path), n_salts=n_salts)
    assert counts["all"] == 4000
    base = tmp_path / "sink=all"
    for hour_dir in os.listdir(base):
        files = [f for f in os.listdir(base / hour_dir)
                 if f.endswith(".parquet")]
        assert 0 < len(files) <= n_salts, (hour_dir, files)
    # the hot-key spread is preserved: the salt still derives from the
    # key + row columns, so one hot conv_id spans several salts
    hot = df.withColumn("conv_id", F.lit("hot"))
    sizes = _partition_sizes(salted_repartition(hot, "conv_id", n_salts=8))
    assert len([s for s in sizes if s > 0]) >= 4
    assert max(sizes) < 4000 * 0.5
