"""The benchmark's workloads: inputs, one operation, and its output check.

Each workload prepares its inputs from the seed (cached, untimed), loads
what a session needs (``setup``), runs one untimed warm-up operation,
then timed operations. Every operation's output is checked outside the
timed region against values computed from the generated files alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

import gen


@dataclass
class OpResult:
    wall_s: float
    rows: int
    ok: bool
    detail: dict = field(default_factory=dict)


def _cache_dir(cache_root: str, workload: str, seed: int, params: dict) -> str:
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(cache_root, f"{workload}-s{seed}-{digest}")


def _cached(path: str, build) -> str:
    """Run ``build(tmp_dir)`` once per cache key; return the directory."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def _link(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def _ckpt_us(path: str) -> int | None:
    """The committed watermark in microseconds, or None before a commit."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        value = json.load(fh)["value"]
    dt = datetime.strptime(value, "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(dt.timestamp()) * 1_000_000 + dt.microsecond


def _partition_files(base: str, part: str):
    """Parquet files under ``base/<any>/.../<part>/``."""
    for dirpath, _, files in os.walk(base):
        if os.path.basename(dirpath) == part:
            for f in files:
                if f.endswith(".parquet"):
                    yield os.path.join(dirpath, f)


class PipelineWorkload:
    """Shared code of the two ``run_pipeline`` workloads."""

    # operations run untimed first in a fresh JVM: the first pays class
    # loading and code generation, the second still runs several tens of
    # percent slower than the ones after it
    cold_warmups = 2

    n_files = 12

    def __init__(self, cache_root: str, work: str, seed: int) -> None:
        self.table = os.path.join(work, "table")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(self.out, "ckpt.json")
        self.stream = gen.TranscriptStream(seed, self.capacity, self.gap_us)
        self.cache = _cache_dir(cache_root, self.name, seed, self.params())
        _cached(self.cache, self._build)
        os.makedirs(self.table)
        self.file_ts: dict[str, np.ndarray] = {}
        for i in range(self.n_files):
            self._add_file(os.path.join(self.cache, f"part-{i:05d}.parquet"))

    def params(self) -> dict:
        return {"base_rows": self.base_rows, "gap_us": self.gap_us, "files": self.n_files}

    def _build(self, tmp: str) -> None:
        gen.write_dims(tmp)
        gen.write_chunks(self.stream, tmp, 0, self.base_rows, self.n_files)

    def _add_file(self, src: str, name: str | None = None) -> None:
        dst = os.path.join(self.table, name or os.path.basename(src))
        _link(src, dst)
        ts = pq.read_table(src, columns=["ts"]).column("ts").cast("int64")
        self.file_ts[dst] = ts.to_numpy()

    def config(self, clean_run: bool):
        from logstash_integration_jdbc_spark.pipeline import PipelineConfig

        return PipelineConfig(
            transcripts_path=self.table,
            tool_dim_path=os.path.join(self.cache, "tool_dim.parquet"),
            role_dim_path=os.path.join(self.cache, "role_dim.parquet"),
            out_dir=self.out, checkpoint_path=self.ckpt, clean_run=clean_run)

    def setup(self, spark) -> None:
        """Dimension load: the guarded count and cache of both dimensions."""
        from logstash_integration_jdbc_spark import pipeline

        pipeline.build_lookups(spark, self.config(clean_run=False))

    def _run(self, spark, tracer, clean_run: bool) -> OpResult:
        from logstash_integration_jdbc_spark import pipeline

        prev_us = None if clean_run else _ckpt_us(self.ckpt)
        with tracer.span("pipeline") as idx:
            metrics = pipeline.run_pipeline(spark, self.config(clean_run))
        wall = tracer.spans[idx].duration
        return self.check(metrics, prev_us, wall)

    def check(self, metrics: dict, prev_us: int | None, wall: float) -> OpResult:
        """Sink rows of this run_id == rows above the previous watermark;
        aggregate n_turns sum == those rows; new watermark == their max ts."""
        above = [ts[ts > prev_us] if prev_us is not None else ts
                 for ts in self.file_ts.values()]
        expect_rows = int(sum(len(a) for a in above))
        expect_wm = max((int(a.max()) for a in above if len(a)), default=prev_us)
        part = f"run_id={metrics['run_id']}"
        sink_rows = sum(pq.read_metadata(f).num_rows
                        for f in _partition_files(os.path.join(self.out, "sinks"), part))
        agg_rows = sum(int(pq.read_table(f, columns=["n_turns"]).column(0).to_numpy().sum())
                       for f in _partition_files(os.path.join(self.out, "agg"), part))
        wm = _ckpt_us(self.ckpt)
        detail = {"expect_rows": expect_rows, "sink_rows": sink_rows,
                  "agg_n_turns": agg_rows, "watermark_us": wm,
                  "expect_watermark_us": expect_wm, "metrics": metrics}
        ok = sink_rows == expect_rows == agg_rows and wm == expect_wm
        return OpResult(wall, sink_rows, ok, detail)


class FullBatch(PipelineWorkload):
    """A clean run of the whole pipeline over one dense batch."""

    name = "full_batch"
    base_rows = 100_000
    capacity = base_rows
    gap_us = int(6 * 3600e6 / base_rows)  # the batch spans six hours

    def warmup(self, spark, tracer) -> OpResult:
        return self.op(spark, tracer)

    def op(self, spark, tracer) -> OpResult:
        try:
            return self._run(spark, tracer, clean_run=True)
        finally:
            shutil.rmtree(self.out, ignore_errors=True)


class IncrementalTicks(PipelineWorkload):
    """Scheduled re-runs: each tick appends a delta file, then resumes
    from the committed watermark. The base commit is the first warm-up."""

    name = "incremental_ticks"
    base_rows = 40_000
    delta_rows = 10_000
    max_ticks = 60
    capacity = base_rows + max_ticks * delta_rows
    gap_us = int(6 * 3600e6 / base_rows)
    # the base commit, then two ticks: the first tick in a JVM compiles the
    # incremental path and the second is still ~20% slower than later ones
    cold_warmups = 3

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.ticks = 0

    def params(self) -> dict:
        return {**super().params(), "delta_rows": self.delta_rows}

    def warmup(self, spark, tracer) -> OpResult:
        if not os.path.exists(self.ckpt):
            return self._run(spark, tracer, clean_run=True)  # base commit
        return self.op(spark, tracer)

    def op(self, spark, tracer) -> OpResult:
        if self.ticks >= self.max_ticks:
            raise RuntimeError(f"more than {self.max_ticks} ticks in one run")
        lo = self.base_rows + self.ticks * self.delta_rows
        name = f"delta-{self.ticks:05d}.parquet"
        src = os.path.join(self.cache, name)
        if not os.path.exists(src):
            pq.write_table(self.stream.chunk(lo, lo + self.delta_rows), src + ".tmp")
            os.replace(src + ".tmp", src)
        self._add_file(src, name)
        self.ticks += 1
        return self._run(spark, tracer, clean_run=False)


class NearDup:
    """MinHash LSH candidates plus the Jaccard >= 0.8 verify, written to
    a noop sink, over a corpus with planted near-duplicates and
    boilerplate clusters."""

    name = "near_dup"
    n_docs = 20_000
    copies = [200, 100, 50]
    threshold = 0.8
    cold_warmups = 2

    def __init__(self, cache_root: str, work: str, seed: int) -> None:
        self.planted = gen.planted_pair_count(self.n_docs, self.copies)
        self.cache = _cache_dir(cache_root, self.name, seed,
                                {"docs": self.n_docs, "copies": self.copies})
        _cached(self.cache, lambda tmp: pq.write_table(
            gen.docs_table(self.n_docs, self.copies, seed),
            os.path.join(tmp, "docs.parquet")))
        self.docs = None

    def setup(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.cache, "docs.parquet"))

    def warmup(self, spark, tracer) -> OpResult:
        return self.op(spark, tracer)

    def op(self, spark, tracer) -> OpResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from logstash_integration_jdbc_spark.operators import dedup

        obs = Observation()
        with tracer.span("near_dup") as idx:
            pairs = dedup.minhash_lsh_candidates(self.docs).observe(
                obs, F.count(F.lit(1)).alias("candidates"),
                F.sum((F.col("jaccard") >= self.threshold).cast("long")).alias("verified"))
            with tracer.span("dedup.verify"):
                (pairs.filter(F.col("jaccard") >= self.threshold)
                 .write.format("noop").mode("overwrite").save())
        got = obs.get
        detail = {"candidates": int(got["candidates"]), "verified": int(got["verified"] or 0),
                  "planted": self.planted}
        return OpResult(tracer.spans[idx].duration, self.n_docs,
                        detail["verified"] == self.planted, detail)

    def probe(self, spark, tracer) -> dict:
        """Band stage alone (noop write) and the largest LSH bucket."""
        from pyspark.sql import functions as F

        from logstash_integration_jdbc_spark.operators import dedup

        with tracer.span("dedup.band_probe") as idx:
            dedup.minhash_band_buckets(self.docs).write.format("noop").mode("overwrite").save()
        band_s = tracer.spans[idx].duration
        with tracer.span("dedup.bucket_sizes"):
            row = (dedup.minhash_band_buckets(self.docs).groupBy("__band", "__bucket")
                   .count().agg(F.max("count").alias("m")).collect()[0])
        return {"band_s": band_s, "max_bucket": int(row["m"])}


WORKLOADS = {w.name: w for w in (FullBatch, IncrementalTicks, NearDup)}
