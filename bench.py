"""Benchmark harness.

Default mode (what the driver runs): executes the headline queries from
``__spark_entry__.queries()`` plus the end-to-end transcript pipeline at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default all cores) and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Scaling mode ``--scaling-submit`` (north_rule two-cluster-size
criterion): the identical pipeline job run via ``spark-submit --py-files``
on a local Spark standalone cluster at N vs 4N 1-core executors; appends
its result to BENCH_SCALING.md, where the method is documented.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "s2_incremental_scan", "j1_streaming_lookup", "j2_static_lookup",
    "r4_router_counts", "agg_hourly_counts", "sessionize",
    "tpch_q1", "tpch_q3", "tpch_q5",
    "dedup_exact_keep", "dedup_minhash", "text_quality", "text_langid",
    "ann_cosine_topk", "embedding_near_dup",
    "text_bm25_topk", "gopher_rules", "text_perplexity",
]

BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "1000000"))
# reps per timed item; min-of-k is the recorded number (the host shows
# ±25% vCPU-speed variance — see BENCH_SCALING.md — so a single timed run
# cannot distinguish a code regression from host noise)
BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# amortized-regime pipeline row count folded into the standard bench
BENCH_8M_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_8M_ROWS", "8000000"))
BENCH_8M_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_8M_REPS", "2"))


def _pipeline_input(spark, n_rows: int) -> str:
    """Materialize the deterministic transcript fixtures once per size."""
    base = os.path.join(tempfile.gettempdir(), f"ljspark-bench-{n_rows}")
    marker = os.path.join(base, "_DONE")
    if not os.path.exists(marker):
        from logstash_integration_jdbc_spark.sources.generator import (
            gen_role_dim,
            gen_tool_dim,
            gen_transcripts,
        )

        # dense-traffic shape: the whole batch spans ~6 hours regardless
        # of row count (a 10^12-turn table is dense in time, not sparse)
        gap = 6 * 3600.0 / n_rows
        gen_transcripts(spark, n_rows=n_rows, seed=42, avg_gap_s=gap).write.mode(
            "overwrite"
        ).parquet(f"{base}/transcripts.parquet")
        gen_tool_dim(spark).write.mode("overwrite").parquet(f"{base}/tool_dim.parquet")
        gen_role_dim(spark).write.mode("overwrite").parquet(f"{base}/role_dim.parquet")
        with open(marker, "w") as f:
            f.write("ok")
    return base


def run_pipeline_bench(spark, n_rows: int, warm: bool = True,
                       reps: int = 1) -> dict:
    from logstash_integration_jdbc_spark.pipeline import PipelineConfig, run_pipeline

    data = _pipeline_input(spark, n_rows)

    def cfg_for(path, out):
        return PipelineConfig(
            transcripts_path=path,
            tool_dim_path=f"{data}/tool_dim.parquet",
            role_dim_path=f"{data}/role_dim.parquet",
            out_dir=out,
            checkpoint_path=os.path.join(out, "ckpt.json"),
            clean_run=True,
        )

    if warm:
        # untimed JIT/codegen warm pass on a small slice — steady-state
        # executors have hot code (same policy as the submitted app);
        # the first-ever run pays ~12 s of one-time JVM compilation that
        # a long-lived cluster amortizes to zero
        wdata = _pipeline_input(spark, 50_000)
        run_pipeline(spark, cfg_for(f"{wdata}/transcripts.parquet",
                                    tempfile.mkdtemp(prefix="ljspark-warm-")))

    import shutil as _sh

    walls, rows = [], n_rows
    for _ in range(max(reps, 1)):
        out = tempfile.mkdtemp(prefix="ljspark-bench-out-")
        t0 = time.time()
        metrics = run_pipeline(spark, cfg_for(f"{data}/transcripts.parquet", out))
        walls.append(time.time() - t0)
        rows = metrics["stages"].get("scan", {}).get("rows", n_rows)
        # drop this rep's sink output while still dirty so later reps
        # don't fight its page-cache writeback
        _sh.rmtree(out, ignore_errors=True)
    wall = min(walls)
    return {"wall_sec": wall, "rows": rows, "turns_per_sec": rows / wall,
            "wall_sec_median": sorted(walls)[len(walls) // 2], "reps": len(walls)}


MINHASH_ROWS = int(os.environ.get("SPARK_GRAFT_MINHASH_ROWS", "1000000"))
MINHASH_8M_ROWS = int(os.environ.get("SPARK_GRAFT_MINHASH_8M_ROWS", "8000000"))
# min-of-2: a single 8M rep showed 71 vs 114 s across runs (page-cache/
# JVM state), too noisy to read round-over-round
MINHASH_8M_REPS = int(os.environ.get("SPARK_GRAFT_MINHASH_8M_REPS", "2"))


def _docs_input(spark, n_rows: int) -> str:
    """Materialize the controlled-near-dup document corpus once per size
    (2% near-dups over a 50k vocabulary — template transcript text is
    pathological LSH input: exact-copy buckets go O(B²))."""
    base = os.path.join(tempfile.gettempdir(), f"ljspark-docs-{n_rows}")
    marker = os.path.join(base, "_DONE")
    if not os.path.exists(marker):
        from logstash_integration_jdbc_spark.sources.generator import gen_docs

        gen_docs(spark, n_rows=n_rows).write.mode("overwrite").parquet(
            os.path.join(base, "documents.parquet"))
        with open(marker, "w") as f:
            f.write("ok")
    return os.path.join(base, "documents.parquet")


def run_substring_bench(spark, n_rows: int = MINHASH_ROWS,
                        reps: int = BENCH_REPS) -> dict:
    """Winnowed exact-substring pairs at volume over the same controlled
    corpus: wall, docs/s, pair count (the corpus's 2% template near-dups
    share ≥13-token runs, so the expected pair count equals minhash's
    verified 20k — an independent cross-check of both operators)."""
    from logstash_integration_jdbc_spark.operators.dedup import (
        substring_dup_pairs,
    )

    docs = spark.read.parquet(_docs_input(spark, n_rows))
    walls, pairs = [], 0
    for _ in range(max(reps, 1)):
        t0 = time.time()
        pairs = substring_dup_pairs(docs, min_tokens=10, window=4).count()
        walls.append(time.time() - t0)
    wall = min(walls)
    return {"wall_sec": round(wall, 3), "rows": n_rows,
            "docs_per_sec": round(n_rows / wall, 1), "pairs": int(pairs)}


def run_perplexity_bench(spark, n_rows: int = MINHASH_ROWS,
                         reps: int = BENCH_REPS) -> dict:
    """Bigram-LM perplexity at volume over the controlled corpus:
    model fit (bigram + context counts over ~n_rows×40 bigrams) and
    per-doc scoring in one lazy plan; wall, docs/s, and the scored-doc
    count (== corpus rows — every doc has ≥2 tokens)."""
    from logstash_integration_jdbc_spark.operators.lm import perplexity

    docs = spark.read.parquet(_docs_input(spark, n_rows))
    walls, scored = [], 0
    for _ in range(max(reps, 1)):
        t0 = time.time()
        scored = perplexity(docs).count()
        walls.append(time.time() - t0)
    wall = min(walls)
    return {"wall_sec": round(wall, 3), "rows": n_rows,
            "docs_per_sec": round(n_rows / wall, 1), "scored": int(scored)}


def run_bpe_bench(spark, n_rows: int = MINHASH_ROWS,
                  reps: int = BENCH_REPS) -> dict:
    """Trainable-BPE at volume: train 200 merges from the 1M-turn
    corpus's word counts (one exchange + driver-side merge loop), then
    encode all 1M turns through the Arrow kernel with per-batch word
    memoization. Reports train and encode walls separately — train is
    vocab-bounded (amortized once per corpus), encode is the per-row
    cost that scales."""
    from logstash_integration_jdbc_spark.operators import bpe

    tr = spark.read.parquet(
        f"{_pipeline_input(spark, n_rows)}/transcripts.parquet")
    t0 = time.time()
    merges = bpe.train_bpe(tr, 200, min_word_count=2)
    train_wall = time.time() - t0
    walls = []
    toks = 0
    for _ in range(max(reps, 1)):
        t0 = time.time()
        toks = (bpe.bpe_token_count(tr, merges)
                .agg({"bpe_len": "sum"}).first()[0])
        walls.append(time.time() - t0)
    wall = min(walls)
    return {"rows": n_rows, "n_merges": len(merges),
            "train_wall_sec": round(train_wall, 3),
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall, 1),
            "tokens": int(toks)}


def run_parse_bench(spark, n_rows: int = MINHASH_ROWS,
                    reps: int = BENCH_REPS) -> dict:
    """Grok at volume over 1M transcript turns: four fields extracted
    from the structured-payload turns (the ~75% parse-hit shape); wall,
    rows/s and the hit count."""
    from logstash_integration_jdbc_spark.functions.parse import GrokParser

    from pyspark.sql import functions as F

    tr = spark.read.parquet(
        f"{_pipeline_input(spark, n_rows)}/transcripts.parquet")
    grok = GrokParser(
        "tool_call=%{NOTSPACE:tool_call} status=%{WORD:status} "
        "dur_ms=%{INT:dur_ms} session=%{NOTSPACE:session}")
    walls = []
    for _ in range(max(reps, 1)):
        t0 = time.time()
        hits = grok.apply(tr).filter(F.col("parse_ok")).count()
        walls.append(time.time() - t0)
    wall = min(walls)
    return {"rows": n_rows, "hits": hits, "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall, 1)}


def run_minhash_bench(spark, n_rows: int = MINHASH_ROWS,
                      reps: int = BENCH_REPS) -> dict:
    """MinHash+LSH near-dup at volume (VERDICT r3 ask #6): wall, docs/s,
    verified-pair count, and the band bucket-size histogram (the O(B²)
    degenerate-bucket risk only shows at volume — the histogram makes it
    observable)."""
    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(_docs_input(spark, n_rows))
    walls, pairs = [], 0
    for _ in range(max(reps, 1)):
        # the operator persists its candidate set and Spark's cache
        # manager matches by logical plan — without this, rep 2+ would
        # time a cache hit, not the pipeline
        spark.catalog.clearCache()
        t0 = time.time()
        pairs = minhash_lsh_candidates(docs, num_hashes=64, bands=16).filter(
            F.col("jaccard") >= 0.8).count()
        walls.append(time.time() - t0)
    wall = min(walls)

    sizes = (minhash_band_buckets(docs, num_hashes=64, bands=16)
             .groupBy("__band", "__bucket").count())
    hist_rows = sizes.select(
        F.when(F.col("count") == 1, "1")
        .when(F.col("count") == 2, "2")
        .when(F.col("count") <= 10, "3-10")
        .when(F.col("count") <= 100, "11-100")
        .otherwise(">100").alias("bin")
    ).groupBy("bin").count().collect()
    max_bucket = sizes.agg(F.max("count")).first()[0]
    return {
        "wall_sec": round(wall, 3),
        "wall_sec_median": round(sorted(walls)[len(walls) // 2], 3),
        "rows": n_rows,
        "docs_per_sec": round(n_rows / wall, 1),
        "verified_pairs": pairs,
        "bucket_hist": {r["bin"]: r["count"] for r in hist_rows},
        "max_bucket": int(max_bucket),
    }


def main_bench() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from logstash_integration_jdbc_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    per_query: dict[str, float] = {}
    per_query_median: dict[str, float] = {}
    total = 0.0
    # warm JVM + file-listing caches out of band so the first query's
    # number measures the query, not session boot
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1).count()
    # best-of-k per query (k=BENCH_REPS): the min is the least
    # noise-contaminated estimate; the median is recorded alongside so
    # round-over-round drift can be split into code vs host noise
    for name in HEADLINE:
        fn = qs[name]
        times = []
        for _ in range(BENCH_REPS):
            t0 = time.time()
            fn(spark, sf_dir).count()
            times.append(time.time() - t0)
        per_query[name] = round(min(times), 3)
        per_query_median[name] = round(sorted(times)[len(times) // 2], 3)
        total += min(times)

    pipe = run_pipeline_bench(spark, BENCH_ROWS, reps=BENCH_REPS)
    per_query["pipeline_e2e"] = round(pipe["wall_sec"], 3)
    per_query_median["pipeline_e2e"] = round(pipe["wall_sec_median"], 3)
    total += pipe["wall_sec"]

    # amortized regime: one (configurable) rep at 8M rows — JVM/codegen
    # already hot from the 1M reps, so a single run is steady-state
    pipe8m = run_pipeline_bench(spark, BENCH_8M_ROWS, warm=False,
                                reps=BENCH_8M_REPS)
    per_query["pipeline_e2e_8m"] = round(pipe8m["wall_sec"], 3)

    mh = run_minhash_bench(spark)
    per_query["dedup_minhash_1m"] = mh["wall_sec"]
    # amortized regime (JVM/Arrow workers hot from the 1M reps)
    mh8m = run_minhash_bench(spark, n_rows=MINHASH_8M_ROWS,
                             reps=MINHASH_8M_REPS)
    per_query["dedup_minhash_8m"] = mh8m["wall_sec"]

    sub1m = run_substring_bench(spark)
    per_query["dedup_substring_1m"] = sub1m["wall_sec"]

    ppl1m = run_perplexity_bench(spark)
    per_query["text_perplexity_1m"] = ppl1m["wall_sec"]

    parse1m = run_parse_bench(spark)
    per_query["parse_grok_1m"] = parse1m["wall_sec"]

    bpe1m = run_bpe_bench(spark, reps=1)
    per_query["bpe_encode_1m"] = bpe1m["wall_sec"]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # r4 lesson: the driver's tail capture truncated the FRONT of one
    # long line and lost the machine-readable headline. Split output:
    # a DETAIL line first (medians, minhash breakdowns — also
    # written to BENCH_DETAIL.json beside this script), then a COMPACT
    # headline JSON as the very LAST line so tail capture always parses.
    detail = {
        "detail": True,
        "queries_median": per_query_median,
        "minhash_1m": mh,
        "minhash_8m": mh8m,
        "substring_1m": sub1m,
        "perplexity_1m": ppl1m,
        "parse_1m": parse1m,
        "bpe_1m": bpe1m,
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(detail))
    print(json.dumps({
        "metric": "headline_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "reps": BENCH_REPS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pipeline_rows": pipe["rows"],
        "pipeline_turns_per_sec": round(pipe["turns_per_sec"], 1),
        "pipeline_8m_rows": pipe8m["rows"],
        "pipeline_8m_turns_per_sec": round(pipe8m["turns_per_sec"], 1),
        "cpus": spark.sparkContext.defaultParallelism,
    }))


def _spark_cluster(n_workers: int, cores: int = 1, mem: str = "2g"):
    """Launch a real Spark standalone cluster on this box: one master +
    n_workers 1-core worker daemons, each pinned to its own CPU window.

    This is the highest-fidelity in-sandbox proxy for the north rule's
    multi-executor criterion: ONE driver, N executor JVMs, dynamic task
    scheduling (a slow vCPU gets fewer tasks; measured per-vCPU speed
    varies ±25% on this host).
    Returns (master_url, [procs]) — caller terminates procs.
    """
    import shutil as _sh
    import socket

    import pyspark

    spark_home = os.path.dirname(pyspark.__file__)
    jars = os.path.join(spark_home, "jars")
    java = os.path.join(os.environ.get("JAVA_HOME", "/usr"), "bin", "java")
    cp = f"{jars}/*"
    url = "spark://127.0.0.1:7077"
    # workers launch executors via $SPARK_HOME/bin/spark-class — the
    # pip-installed pyspark tree IS a full Spark distribution, but it has
    # no launcher/target build dirs, so pin the scala version explicitly
    # (the launcher probes build dirs only when SPARK_SCALA_VERSION is
    # unset and dies with "Cannot find any build directories")
    scala = "2.13"
    for j in os.listdir(jars):
        if j.startswith("spark-core_"):
            scala = j.split("_")[1].split("-")[0]
            break
    denv = {**os.environ, "SPARK_HOME": spark_home,
            "SPARK_SCALA_VERSION": scala}
    procs = [subprocess.Popen(
        [java, "-cp", cp, "-Xmx768m", "org.apache.spark.deploy.master.Master",
         "--host", "127.0.0.1", "--port", "7077", "--webui-port", "0"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=denv)]
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            socket.create_connection(("127.0.0.1", 7077), timeout=1).close()
            break
        except OSError:
            time.sleep(0.3)
    n_cpus = os.cpu_count() or 32
    cpw = max(n_cpus // 16, 1) * 2  # 2-CPU window per 1-core worker
    use_pin = _sh.which("taskset")
    for i in range(n_workers):
        cmd = [java, "-cp", cp, "-Xmx768m", "org.apache.spark.deploy.worker.Worker",
               url, "--cores", str(cores), "--memory", mem, "--webui-port", "0",
               "--work-dir", tempfile.mkdtemp(prefix=f"spark-worker-{i}-")]
        if use_pin:
            lo = (i * cpw) % n_cpus
            cmd = ["taskset", "-c", f"{lo}-{lo + cpw - 1}"] + cmd
        procs.append(subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                                      stderr=subprocess.DEVNULL, env=denv))
    time.sleep(5)  # worker registration
    return url, procs


def build_pyfiles_zip() -> str:
    """Zip the package for spark-submit --py-files (dist/
    ljspark_pyfiles.zip): package sources only, deterministic order."""
    import zipfile

    here = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(here, "logstash_integration_jdbc_spark")
    dist = os.path.join(here, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = os.path.join(dist, "ljspark_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in sorted(os.walk(pkg)):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, here))
    return zpath


def main_scaling_submit() -> None:
    """North-rule evidence, LITERAL deployment form: the identical job
    run via ``spark-submit --py-files`` on the standalone cluster at
    N vs 4N executors. The driver script runs from a neutral cwd with
    the repo ABSENT from sys.path, so a passing run proves the zip
    alone delivers the package to driver + executors."""
    import pyspark

    n_rows = int(os.environ.get("SPARK_GRAFT_SUBMIT_ROWS", "4000000"))
    n_lo = int(os.environ.get("SPARK_GRAFT_SCALING_EXECS_N", "1"))
    n_hi = n_lo * 4
    here = os.path.dirname(os.path.abspath(__file__))
    zpath = build_pyfiles_zip()
    spark_home = os.path.dirname(pyspark.__file__)
    submit = os.path.join(spark_home, "bin", "spark-submit")
    app = os.path.join(here, "tools", "submit_pipeline.py")
    env = {**os.environ, "SPARK_HOME": spark_home,
           "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    # identical pre-generated bytes for every rep and both exec counts
    from logstash_integration_jdbc_spark.session import get_spark

    gen = get_spark(app_name="submit-gen")
    gen.sparkContext.setLogLevel("ERROR")
    data = _pipeline_input(gen, n_rows)
    warm = _pipeline_input(gen, 50_000)
    gen.stop()
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
    url, procs = _spark_cluster(max(n_hi, 4))
    try:
        results = {}
        for n_exec in (n_lo, n_hi):
            best = None
            for _ in range(reps):
                out = subprocess.run(
                    [submit, "--master", url, "--py-files", zpath,
                     app, str(n_exec), str(n_rows), data, warm],
                    capture_output=True, text=True,
                    cwd=tempfile.gettempdir(), env=env, timeout=3600)
                lines = [ln for ln in out.stdout.strip().splitlines()
                         if ln.startswith("{")]
                if not lines:
                    raise RuntimeError(
                        f"spark-submit produced no result JSON; stderr "
                        f"tail: {out.stderr[-2000:]}")
                r = json.loads(lines[-1])
                if best is None or r["turns_per_sec"] > best["turns_per_sec"]:
                    best = r
            results[n_exec] = best
    finally:
        for p in procs:
            p.terminate()
    t_n = results[n_lo]["turns_per_sec"]
    t_4n = results[n_hi]["turns_per_sec"]
    eff = (t_4n / t_n) / (n_hi / n_lo)
    report = {
        "mode": "spark-submit --py-files, standalone cluster",
        "rows": n_rows, "executors_n": n_lo, "executors_4n": n_hi,
        "turns_per_sec_n": t_n, "turns_per_sec_4n": t_4n,
        "wall_sec_n": results[n_lo]["wall_sec"],
        "wall_sec_4n": results[n_hi]["wall_sec"],
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(report))
    with open(os.path.join(here, "BENCH_SCALING.md"), "a") as f:
        f.write(
            f"\n| {n_rows} | spark-submit {n_lo}×1c | spark-submit "
            f"{n_hi}×1c | {t_n} | {t_4n} | {report['scaling_efficiency']} |"
        )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-submit":
        main_scaling_submit()
    else:
        main_bench()
