"""End-to-end pipeline vs an independent DuckDB oracle, plus
checkpoint/resume semantics (north_star: per-sink aggregate counts,
routed-row sets, per-turn text equality under stable (conv_id, turn_idx)
ordering, and resume-to-identical-outputs)."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.pipeline import PipelineConfig, run_pipeline

PARSE_RE = r"tool_call=(\S+) status=(\w+) dur_ms=([+-]?\d+)"


def oracle_con(fixture_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW transcripts AS SELECT * FROM '{fixture_dir}/transcripts.parquet/*.parquet'")
    con.execute(f"CREATE VIEW tool_dim AS SELECT * FROM '{fixture_dir}/tool_dim.parquet/*.parquet'")
    con.execute(f"CREATE VIEW role_dim AS SELECT * FROM '{fixture_dir}/role_dim.parquet/*.parquet'")
    # The reference semantics, written independently in SQL:
    # parse → tool lookup (default on miss) → sink classification.
    con.execute(rf"""
        CREATE VIEW classified AS
        WITH parsed AS (
            SELECT *,
                nullif(regexp_extract(text, '{PARSE_RE}', 1), '') AS tool_call,
                nullif(regexp_extract(text, '{PARSE_RE}', 2), '') AS status,
                try_cast(nullif(regexp_extract(text, '{PARSE_RE}', 3), '') AS INT) AS dur_ms
            FROM transcripts
        ), enriched AS (
            SELECT p.*, d.tool_name, d.tool_category,
                   p.tool_call IS NOT NULL AS parse_ok,
                   (p.tool_call IS NOT NULL AND d.tool IS NULL) AS tool_default_used
            FROM parsed p LEFT JOIN tool_dim d ON p.tool_call = d.tool
        )
        SELECT *,
            CASE WHEN NOT parse_ok THEN 'parse_miss'
                 WHEN tool_default_used THEN 'defaults_used'
                 ELSE 'matched' END AS sink
        FROM enriched
    """)
    return con


@pytest.fixture(scope="module")
def run(spark, fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline-out"))
    cfg = PipelineConfig(
        transcripts_path=f"{fixture_dir}/transcripts.parquet",
        tool_dim_path=f"{fixture_dir}/tool_dim.parquet",
        role_dim_path=f"{fixture_dir}/role_dim.parquet",
        out_dir=out,
        checkpoint_path=os.path.join(out, "ckpt.json"),
        clean_run=True,
    )
    metrics = run_pipeline(spark, cfg)
    return cfg, metrics


class TestOracleEquality:
    def test_sink_counts_match_oracle(self, run, fixture_dir):
        _, metrics = run
        con = oracle_con(fixture_dir)
        expected = dict(con.execute("SELECT sink, count(*) FROM classified GROUP BY sink").fetchall())
        got = {k: v for k, v in metrics["sinks"].items() if v > 0}
        assert got == expected

    def test_routed_row_sets_match_oracle(self, run, spark, fixture_dir):
        cfg, _ = run
        con = oracle_con(fixture_dir)
        for sink in ("matched", "defaults_used", "parse_miss"):
            got = {
                (r.conv_id, r.turn_idx)
                for r in spark.read.parquet(os.path.join(cfg.out_dir, "sinks", f"sink={sink}"))
                .select("conv_id", "turn_idx").collect()
            }
            exp = set(map(tuple, con.execute(
                f"SELECT conv_id, turn_idx FROM classified WHERE sink = '{sink}'").fetchall()))
            assert got == exp, f"sink {sink} row set mismatch"

    def test_hourly_aggregates_match_oracle(self, run, spark, fixture_dir):
        cfg, _ = run
        con = oracle_con(fixture_dir)
        agg = spark.read.parquet(os.path.join(cfg.out_dir, "agg", "sink=matched"))
        got = {(r.role, r.tool, r.ts_hour): r.n_turns for r in agg.collect()}
        exp = {
            (role, tool, hour): n
            for role, tool, hour, n in con.execute("""
                SELECT role, tool, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00'), count(*)
                FROM classified WHERE sink='matched' GROUP BY 1,2,3
            """).fetchall()
        }
        assert got == exp

    def test_per_turn_text_equality_stable_order(self, run, spark, fixture_dir):
        cfg, _ = run
        con = oracle_con(fixture_dir)
        got = [
            (r.conv_id, r.turn_idx, r.text)
            for r in spark.read.parquet(os.path.join(cfg.out_dir, "sinks", "sink=matched"))
            .select("conv_id", "turn_idx", "text")
            .orderBy("conv_id", "turn_idx").collect()
        ]
        exp = con.execute("""
            SELECT conv_id, turn_idx, text FROM classified
            WHERE sink='matched' ORDER BY conv_id, turn_idx
        """).fetchall()
        assert got == [tuple(x) for x in exp]

    def test_enriched_fields_match_dim(self, run, spark, fixture_dir):
        cfg, _ = run
        matched = spark.read.parquet(os.path.join(cfg.out_dir, "sinks", "sink=matched"))
        sample = matched.select("tool_call", F.col("tool_info")[0].alias("ti")).limit(200).collect()
        con = oracle_con(fixture_dir)
        dim = dict(con.execute("SELECT tool, tool_name FROM tool_dim").fetchall())
        for r in sample:
            assert r.ti.tool_name == dim[r.tool_call]


class TestResume:
    def test_resume_skips_processed_and_late_rows(self, spark, fixture_dir, tmp_path):
        out = str(tmp_path / "out")
        full = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
        cutoff = full.selectExpr("percentile_approx(ts, 0.5) as c").first().c
        early = full.filter(F.col("ts") <= F.lit(cutoff))
        early_path = str(tmp_path / "early.parquet")
        early.write.parquet(early_path)

        def cfg(path, clean=False):
            return PipelineConfig(
                transcripts_path=path,
                tool_dim_path=f"{fixture_dir}/tool_dim.parquet",
                role_dim_path=f"{fixture_dir}/role_dim.parquet",
                out_dir=out,
                checkpoint_path=str(tmp_path / "ckpt.json"),
                clean_run=clean,
            )

        m1 = run_pipeline(spark, cfg(early_path, clean=True))
        n_early = m1["stages"]["scan"]["rows"]
        assert n_early == early.count()

        # second run over the FULL table resumes from the watermark:
        # only rows with ts > watermark are scanned; rows at-or-below are
        # skipped forever (docs/input-jdbc.asciidoc:69-76)
        m2 = run_pipeline(spark, cfg(f"{fixture_dir}/transcripts.parquet"))
        n_late = full.filter(F.col("ts") > F.lit(cutoff)).count()
        assert m2["stages"]["scan"]["rows"] == n_late
        assert m1["run_id"] != m2["run_id"]

        # union of both runs' sinks == one-shot classification of rows
        # that were visible at their run (no duplicates, none lost)
        total = sum(
            spark.read.parquet(p).count()
            for p in glob.glob(os.path.join(out, "sinks", "sink=*"))
        )
        assert total == n_early + n_late

    def test_failed_batch_rerun_is_idempotent(self, spark, fixture_dir, tmp_path):
        """Rerunning the same batch (checkpoint not advanced, e.g. crash
        before commit) overwrites its own run_id partitions — no dupes."""
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt.json")
        cfg = PipelineConfig(
            transcripts_path=f"{fixture_dir}/transcripts.parquet",
            tool_dim_path=f"{fixture_dir}/tool_dim.parquet",
            role_dim_path=f"{fixture_dir}/role_dim.parquet",
            out_dir=out, checkpoint_path=ckpt, clean_run=True,
        )
        m1 = run_pipeline(spark, cfg)
        # simulate "crash before checkpoint commit": delete the checkpoint
        os.remove(ckpt)
        cfg2 = PipelineConfig(**{**cfg.__dict__, "clean_run": False})
        m2 = run_pipeline(spark, cfg2)
        assert m1["run_id"] == m2["run_id"]
        matched = spark.read.parquet(os.path.join(out, "sinks", "sink=matched"))
        assert matched.count() == m1["sinks"]["matched"]
        assert matched.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0


class TestRetry:
    def test_with_retries_recovers_and_exhausts(self):
        from logstash_integration_jdbc_spark.pipeline import with_retries

        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient")
            return "ok"

        assert with_retries(flaky, attempts=2, wait_s=0.01) == "ok"
        assert calls["n"] == 3
        calls["n"] = 0
        with pytest.raises(RuntimeError, match="transient"):
            with_retries(flaky, attempts=1, wait_s=0.01)  # 2 tries < 3 needed
        assert calls["n"] == 2

    def test_pipeline_retries_transient_write_failure(
        self, spark, fixture_dir, tmp_path, monkeypatch
    ):
        """A write that fails once succeeds on retry; the watermark
        advances and outputs match a clean run (idempotent run_id)."""
        from logstash_integration_jdbc_spark.operators.router import Router

        orig = Router.write_all
        state = {"fails_left": 1}

        def flaky_write_all(self, *a, **k):
            if state["fails_left"] > 0:
                state["fails_left"] -= 1
                raise RuntimeError("simulated sink outage")
            return orig(self, *a, **k)

        monkeypatch.setattr(Router, "write_all", flaky_write_all)
        out = str(tmp_path / "out")
        cfg = PipelineConfig(
            transcripts_path=f"{fixture_dir}/transcripts.parquet",
            tool_dim_path=f"{fixture_dir}/tool_dim.parquet",
            role_dim_path=f"{fixture_dir}/role_dim.parquet",
            out_dir=out, checkpoint_path=os.path.join(out, "ckpt.json"),
            clean_run=True, statement_retry_wait_s=0.01,
        )
        metrics = run_pipeline(spark, cfg)
        assert state["fails_left"] == 0
        assert sum(metrics["sinks"].values()) == metrics["stages"]["scan"]["rows"]

    def test_pipeline_exhausted_retries_leave_watermark(self,
            spark, fixture_dir, tmp_path, monkeypatch):
        from logstash_integration_jdbc_spark.operators.router import Router
        from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker

        def always_fail(self, *a, **k):
            raise RuntimeError("permanent sink outage")

        monkeypatch.setattr(Router, "write_all", always_fail)
        out = str(tmp_path / "out")
        ckpt = os.path.join(out, "ckpt.json")
        cfg = PipelineConfig(
            transcripts_path=f"{fixture_dir}/transcripts.parquet",
            tool_dim_path=f"{fixture_dir}/tool_dim.parquet",
            role_dim_path=f"{fixture_dir}/role_dim.parquet",
            out_dir=out, checkpoint_path=ckpt,
            clean_run=True, statement_retry_wait_s=0.01,
        )
        with pytest.raises(RuntimeError, match="permanent"):
            run_pipeline(spark, cfg)
        # watermark must NOT have advanced (at-least-once: rerun re-emits)
        t = ValueTracker(path=ckpt, tracking_type="timestamp")
        assert str(t.value) == str(ValueTracker(path=None, tracking_type="timestamp").value)
