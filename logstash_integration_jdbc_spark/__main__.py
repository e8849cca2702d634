"""spark-submit entry point.

On a cluster:

    spark-submit --py-files ljspark.zip -m logstash_integration_jdbc_spark ...

or locally:

    python -m logstash_integration_jdbc_spark run \
        --transcripts /data/transcripts.parquet \
        --tool-dim /data/tool_dim.parquet --role-dim /data/role_dim.parquet \
        --out /data/out --checkpoint /data/ckpt.json

Subcommands:
    run      one resumable batch of the flagship pipeline
    gen      materialize the deterministic synthetic fixtures
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logstash_integration_jdbc_spark")
    ap.add_argument("--master", default=None, help="Spark master (default: local[*] / submit-provided)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="one resumable batch (parse→enrich→route→aggregate)")
    for name, req in (("--transcripts", True), ("--tool-dim", True), ("--role-dim", True),
                      ("--out", True), ("--checkpoint", False)):
        run.add_argument(name, required=req)
    run.add_argument("--clean-run", action="store_true")
    run.add_argument("--no-record-last-run", action="store_true")
    run.add_argument("--salts", type=int, default=8)

    gen = sub.add_parser("gen", help="materialize deterministic fixtures")
    gen.add_argument("--out", required=True)
    gen.add_argument("--rows", type=int, default=100_000)
    gen.add_argument("--seed", type=int, default=42)

    args = ap.parse_args(argv)

    from logstash_integration_jdbc_spark.session import get_spark

    spark = get_spark(app_name=f"ljspark-{args.cmd}", master=args.master)

    if args.cmd == "run":
        from logstash_integration_jdbc_spark.pipeline import PipelineConfig, run_pipeline

        cfg = PipelineConfig(
            transcripts_path=args.transcripts,
            tool_dim_path=args.tool_dim,
            role_dim_path=args.role_dim,
            out_dir=args.out,
            checkpoint_path=args.checkpoint,
            clean_run=args.clean_run,
            record_last_run=not args.no_record_last_run,
            n_salts=args.salts,
        )
        metrics = run_pipeline(spark, cfg)
        print(json.dumps(metrics, default=str))
    elif args.cmd == "gen":
        from logstash_integration_jdbc_spark.sources.generator import write_fixtures

        write_fixtures(spark, args.out, n_rows=args.rows, seed=args.seed)
        print(json.dumps({"status": "ok", "rows": args.rows, "out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
