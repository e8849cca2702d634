"""Supplementary benchmarks for the optimization round (guide §1.4):
noop-sink / count isolation per query and per stage. ``bench.py`` is
frozen for the driver's measurement; all exploratory numbers cited in
OPTIMIZATION_r06.md come from here. Per-layer timings of the minhash
and pipeline paths come from ``perfbench/run.py --trace 1``.

Usage:
  python bench_extra.py queries [name ...]      # headline queries, min-of-k
  python bench_extra.py substring-stages [rows]
  python bench_extra.py perplexity-stages [rows]

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _spark(app="bench-extra"):
    from logstash_integration_jdbc_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=app, master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _time(spark, label, action, reps=REPS):
    times = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        action()
        times.append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    out = {"min": round(min(times), 3), "med": round(sorted(times)[len(times) // 2], 3)}
    print(f"{label:42s} min={out['min']:8.3f} med={out['med']:8.3f}", flush=True)
    return out


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def cmd_queries(names):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qs = entrymod.queries()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1).count()
    out = {}
    for name in names or HEADLINE:
        fn = qs[name]
        # same methodology as bench.py: .count() of the declared query
        out[name] = _time(spark, f"q:{name}", lambda: fn(spark, sf_dir).count())
    print(json.dumps({k: v["min"] for k, v in out.items()}))


def cmd_substring_stages(rows):
    from pyspark.sql import functions as F

    from bench import _docs_input
    from logstash_integration_jdbc_spark.operators import dedup

    spark = _spark()
    docs = spark.read.parquet(_docs_input(spark, rows))
    anch = dedup.winnow_anchors(docs, min_tokens=10, window=4)
    _time(spark, "ss1: winnow_anchors", _noop(anch))
    _time(spark, "ss2: full substring_dup_pairs",
          lambda: dedup.substring_dup_pairs(docs, min_tokens=10, window=4).count())


def cmd_perplexity_stages(rows):
    from pyspark.sql import functions as F

    from bench import _docs_input
    from logstash_integration_jdbc_spark.operators import lm

    spark = _spark()
    docs = spark.read.parquet(_docs_input(spark, rows))
    bg = lm.doc_bigrams(docs)
    _time(spark, "px1: doc_bigrams", _noop(bg))
    bc, cc, vocab = lm.bigram_model(docs)
    _time(spark, "px2: bigram_counts", _noop(bc))
    _time(spark, "px3: context_counts", _noop(cc))
    _time(spark, "px4: vocab", _noop(vocab))
    _time(spark, "px5: full perplexity", lambda: lm.perplexity(docs).count())


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "substring-stages":
        cmd_substring_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    elif cmd == "perplexity-stages":
        cmd_perplexity_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    else:
        raise SystemExit(f"unknown command {cmd}")
