"""The pipeline's commit order under injected faults, and what one
scheduled run reads.

The contract: sinks commit, then the aggregate, then the checkpoint. A
run that dies anywhere before the checkpoint leaves the old watermark,
and its rerun (same ``run_id``) overwrites exactly its own partitions.
After every rerun three invariants hold: the sinks hold every table row
exactly once, the aggregate equals a recount of the sinks, and the
watermark and per-partition cursors equal those of the table.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark import pipeline
from logstash_integration_jdbc_spark.operators import router
from logstash_integration_jdbc_spark.operators.aggregate import hourly_counts
from logstash_integration_jdbc_spark.pipeline import PipelineConfig, run_pipeline
from logstash_integration_jdbc_spark.sources.scan import partition_cursors
from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker


@pytest.fixture(scope="module")
def batches(spark, fixture_dir, tmp_path_factory):
    """The fixture table cut at its median ts into a base and a later
    batch, each one parquet directory."""
    full = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    cutoff = full.selectExpr("percentile_approx(ts, 0.5) AS c").first().c
    root = tmp_path_factory.mktemp("batches")
    out = {}
    for name, cond in (("base", F.col("ts") <= F.lit(cutoff)),
                       ("late", F.col("ts") > F.lit(cutoff))):
        out[name] = str(root / name)
        full.filter(cond).coalesce(1).write.parquet(out[name])
    return out


def add_batch(table: str, src: str, name: str) -> None:
    os.makedirs(table, exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "*.parquet")))):
        shutil.copyfile(f, os.path.join(table, f"{name}-{i}.parquet"))


def config(fixture_dir, table, out, clean=False) -> PipelineConfig:
    return PipelineConfig(
        transcripts_path=table,
        tool_dim_path=f"{fixture_dir}/tool_dim.parquet",
        role_dim_path=f"{fixture_dir}/role_dim.parquet",
        out_dir=out, checkpoint_path=os.path.join(out, "ckpt.json"),
        clean_run=clean, statement_retry_wait_s=0.01,
    )


def checkpoint(out: str) -> dict:
    with open(os.path.join(out, "ckpt.json"), encoding="utf-8") as fh:
        return json.load(fh)


def assert_committed(spark, table: str, out: str) -> None:
    """The three invariants after a fault and its rerun."""
    rows = spark.read.parquet(table)
    sinks = spark.read.option("basePath", os.path.join(out, "sinks")).parquet(
        os.path.join(out, "sinks", "sink=*"))
    key = ["conv_id", "turn_idx"]
    # every table row in exactly one sink, exactly once
    assert sinks.count() == rows.count()
    assert sinks.groupBy(*key).count().filter("count > 1").count() == 0
    assert sinks.select(*key).exceptAll(rows.select(*key)).count() == 0
    # the aggregate equals a recount of the sinks
    recount = hourly_counts(sinks.withColumn("run_id", F.col("run_id").cast("string")),
                            keys=("sink", "run_id", "role", "tool"))
    agg = spark.read.parquet(os.path.join(out, "agg")).withColumn(
        "run_id", F.col("run_id").cast("string"))
    cols = ["sink", "run_id", "role", "tool", "ts_hour", "n_turns"]
    assert (Counter(map(tuple, agg.select(*cols).collect()))
            == Counter(map(tuple, recount.select(*cols).collect())))
    # the watermark and cursors are the table's
    expected = ValueTracker(path=out + ".expected.json", tracking_type="timestamp")
    cursors = partition_cursors(rows)
    expected.set_value(max(c["max_ts"] for c in cursors.values()))
    expected.set_partitions(cursors)
    expected.write()
    got = checkpoint(out)
    with open(expected.path, encoding="utf-8") as fh:
        want = json.load(fh)
    assert (got["value"], got["partitions"]) == (want["value"], want["partitions"])


def run_ids(out: str) -> set[str]:
    return {os.path.basename(p).split("=", 1)[1]
            for p in glob.glob(os.path.join(out, "sinks", "sink=*", "ts_hour=*", "run_id=*"))}


@pytest.fixture()
def ticked(spark, fixture_dir, batches, tmp_path):
    """A committed base run, then the later batch appended to the table."""
    table, out = str(tmp_path / "table"), str(tmp_path / "out")
    add_batch(table, batches["base"], "base")
    run_pipeline(spark, config(fixture_dir, table, out, clean=True))
    add_batch(table, batches["late"], "late")
    return table, out


class TestFaultInjection:
    def test_crash_after_sinks_before_aggregate(self, spark, fixture_dir, ticked,
                                                monkeypatch):
        table, out = ticked
        before = checkpoint(out)
        orig = pipeline.hourly_counts
        fails = {"left": 1}

        def crash_once(*a, **k):
            if fails["left"]:
                fails["left"] -= 1
                raise RuntimeError("crash after the sink commit")
            return orig(*a, **k)

        monkeypatch.setattr(pipeline, "hourly_counts", crash_once)
        with pytest.raises(RuntimeError, match="after the sink commit"):
            run_pipeline(spark, config(fixture_dir, table, out))
        assert checkpoint(out) == before
        m = run_pipeline(spark, config(fixture_dir, table, out))
        # the rerun took the failed run's run_id: base + one tick
        assert len(run_ids(out)) == 2 and m["run_id"] in run_ids(out)
        assert_committed(spark, table, out)

    def test_crash_after_aggregate_before_checkpoint(self, spark, fixture_dir, ticked,
                                                     monkeypatch):
        table, out = ticked
        before = checkpoint(out)
        orig = ValueTracker.write
        seen = {}

        def crash_once(self):
            if not seen:
                # the aggregate of the running batch is committed by now
                seen["agg_runs"] = sorted(
                    os.path.basename(p) for p in glob.glob(os.path.join(out, "agg", "sink=*", "run_id=*")))
                raise RuntimeError("crash before the checkpoint")
            return orig(self)

        monkeypatch.setattr(ValueTracker, "write", crash_once)
        with pytest.raises(RuntimeError, match="before the checkpoint"):
            run_pipeline(spark, config(fixture_dir, table, out))
        assert checkpoint(out) == before
        m = run_pipeline(spark, config(fixture_dir, table, out))
        assert f"run_id={m['run_id']}" in seen["agg_runs"]
        assert len(run_ids(out)) == 2
        assert_committed(spark, table, out)

    def test_task_failure_mid_sink_write(self, spark, fixture_dir, batches, ticked,
                                         monkeypatch):
        table, out = ticked
        path = os.path.join(out, "ckpt.json")
        with open(path, "rb") as fh:
            before = fh.read()
        victim = spark.read.parquet(batches["late"]).orderBy(
            F.col("ts").desc(), "conv_id", "turn_idx").first()
        orig = router.salted_repartition

        def fail_one_row(*a, **k):
            # spark_partition_id() makes the predicate nondeterministic, so
            # it is not pushed below the exchange: the failing task is in
            # the stage that writes the sinks
            hit = ((F.col("conv_id") == victim.conv_id)
                   & (F.col("turn_idx") == victim.turn_idx)
                   & (F.spark_partition_id() >= 0))
            return orig(*a, **k).filter(
                F.when(hit, F.raise_error(F.lit("injected task failure")))
                .otherwise(F.lit(True)))

        monkeypatch.setattr(router, "salted_repartition", fail_one_row)
        with pytest.raises(Exception, match="injected task failure"):
            run_pipeline(spark, config(fixture_dir, table, out))
        monkeypatch.undo()
        with open(path, "rb") as fh:
            assert fh.read() == before
        m = run_pipeline(spark, config(fixture_dir, table, out))
        assert len(run_ids(out)) == 2 and m["run_id"] in run_ids(out)
        assert_committed(spark, table, out)


@pytest.mark.parametrize("torn", ["empty", "truncated"])
def test_torn_checkpoint_raises_before_any_write(spark, fixture_dir, ticked, torn):
    """A checkpoint file that is empty or cut mid-JSON stops the run
    before any sink or aggregate write and is left byte-identical: the
    run never falls back to the epoch and re-ingests the table."""
    table, out = ticked
    path = os.path.join(out, "ckpt.json")
    with open(path, "rb") as fh:
        good = fh.read()
    content = b"" if torn == "empty" else good[: len(good) // 2]
    with open(path, "wb") as fh:
        fh.write(content)

    def tree():
        return {p: os.stat(p).st_mtime_ns
                for sub in ("sinks", "agg")
                for p in glob.glob(os.path.join(out, sub, "**"), recursive=True)}

    before = tree()
    with pytest.raises(ValueError, match="checkpoint"):
        run_pipeline(spark, config(fixture_dir, table, out))
    assert tree() == before
    with open(path, "rb") as fh:
        assert fh.read() == content


def count_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tick_is_independent_of_sink_history(spark, fixture_dir, batches, tmp_path,
                                             monkeypatch):
    """A tick over 40 stale run_id partitions (past Spark's 32-path
    parallel-listing threshold) runs the same jobs as one over an empty
    sinks directory, and aggregates and checkpoints only its own rows."""
    table = str(tmp_path / "table")
    add_batch(table, batches["base"], "base")
    outs = {k: str(tmp_path / k) for k in ("empty", "stale")}
    for out in outs.values():
        run_pipeline(spark, config(fixture_dir, table, out, clean=True))
    shutil.rmtree(os.path.join(outs["empty"], "sinks"))
    hour_dir = sorted(glob.glob(os.path.join(outs["stale"], "sinks", "sink=matched", "ts_hour=*")))[0]
    (base_run,) = glob.glob(os.path.join(hour_dir, "run_id=*"))
    for i in range(40):
        shutil.copytree(base_run, os.path.join(hour_dir, f"run_id=stale{i:02d}"))
    add_batch(table, batches["late"], "late")

    orig = pipeline.partition_cursors
    cursors = []

    def keep(*a, **k):
        cursors.append(orig(*a, **k))
        return cursors[-1]

    monkeypatch.setattr(pipeline, "partition_cursors", keep)
    metrics, jobs = {}, {}
    for name, out in outs.items():
        metrics[name], jobs[name] = count_jobs(
            spark, lambda out=out: run_pipeline(spark, config(fixture_dir, table, out)))
    assert jobs["stale"] == jobs["empty"], jobs

    late = spark.read.parquet(batches["late"])
    n_late = late.count()
    agg = spark.read.parquet(os.path.join(outs["stale"], "agg"))
    runs = {str(r.run_id) for r in agg.select("run_id").distinct().collect()}
    assert len(runs) == 2 and not any("stale" in r for r in runs)
    tick = agg.filter(F.col("run_id").cast("string") == metrics["stale"]["run_id"])
    assert tick.agg(F.sum("n_turns")).first()[0] == n_late
    assert cursors == [partition_cursors(late)] * 2


def test_empty_tick_writes_nothing_and_keeps_checkpoint(spark, fixture_dir, ticked,
                                                        monkeypatch):
    table, out = ticked
    run_pipeline(spark, config(fixture_dir, table, out))

    def data_files():
        return {p: os.stat(p).st_mtime_ns
                for sub in ("sinks", "agg")
                for p in glob.glob(os.path.join(out, sub, "**", "*.parquet"), recursive=True)}

    files, before = data_files(), checkpoint(out)
    calls = []
    monkeypatch.setattr(pipeline, "partition_cursors",
                        lambda *a, **k: calls.append(a) or {})
    m = run_pipeline(spark, config(fixture_dir, table, out))
    assert sum(m["sinks"].values()) == 0 and m["agg_rows"] == {}
    assert data_files() == files
    assert checkpoint(out) == before
    assert calls == []


def test_read_back_of_missing_partitions_raises(spark, tmp_path, transcripts):
    # sink counts say rows committed, but no run_id partition exists
    with pytest.raises(RuntimeError, match="no run_id=r1 partition"):
        pipeline.commit_aggregate(spark, str(tmp_path), "r1", transcripts.schema,
                                  {"matched": 3})


def test_read_back_logs_no_missing_file_trace(tmp_path):
    # one run in a fresh JVM at the default WARN log level: reading back
    # the run's sink partitions must not stat a path that does not exist
    # (Spark's sink-metadata probe logs a FileNotFoundException trace
    # when handed a glob)
    script = textwrap.dedent("""
        import json, os, sys
        from logstash_integration_jdbc_spark.pipeline import PipelineConfig, run_pipeline
        from logstash_integration_jdbc_spark.session import get_spark
        from logstash_integration_jdbc_spark.sources.generator import write_fixtures
        root = sys.argv[1]
        spark = get_spark(app_name="read-back", master="local[2]", extra_conf={
            "spark.sql.shuffle.partitions": "4", "spark.driver.memory": "1g"})
        d = os.path.join(root, "data")
        write_fixtures(spark, d, n_rows=2000)
        m = run_pipeline(spark, PipelineConfig(
            transcripts_path=f"{d}/transcripts.parquet",
            tool_dim_path=f"{d}/tool_dim.parquet",
            role_dim_path=f"{d}/role_dim.parquet",
            out_dir=os.path.join(root, "out")))
        print(json.dumps(m["sinks"]))
        spark.stop()
    """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    proc = subprocess.run([sys.executable, "-c", script, str(tmp_path)], cwd=tmp_path,
                          env=dict(os.environ, PYTHONPATH=path),
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert sum(json.loads(proc.stdout.strip().splitlines()[-1]).values()) == 2000
    assert "FileNotFoundException" not in proc.stderr
