"""The deployment entry point, ``python -m logstash_integration_jdbc_spark``:
its ``run`` subcommand is one resumable batch of the flagship job."""

from __future__ import annotations

import json

from logstash_integration_jdbc_spark import __main__ as cli


def test_run_prints_sink_counts_then_resumes(spark, fixture_dir, tmp_path, capsys):
    out, ckpt = tmp_path / "out", tmp_path / "ckpt.json"
    argv = ["run", "--transcripts", f"{fixture_dir}/transcripts.parquet",
            "--tool-dim", f"{fixture_dir}/tool_dim.parquet",
            "--role-dim", f"{fixture_dir}/role_dim.parquet",
            "--out", str(out), "--checkpoint", str(ckpt)]

    def run() -> dict:
        assert cli.main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run()
    on_disk = {r.sink: r["count"] for r in
               spark.read.parquet(str(out / "sinks")).groupBy("sink").count().collect()}
    assert {k: v for k, v in first["sinks"].items() if v} == on_disk
    assert sum(on_disk.values()) == spark.read.parquet(
        f"{fixture_dir}/transcripts.parquet").count()
    mark = json.loads(ckpt.read_text())

    second = run()
    assert sum(second["sinks"].values()) == 0
    assert second["watermark"] == first["watermark"]
    assert json.loads(ckpt.read_text()) == mark
    assert spark.read.parquet(str(out / "sinks")).count() == sum(on_disk.values())
