"""Skew handling: salted repartitioning for hot keys.

The reference is single-threaded and has no notion of skew; at 10^12
turns a Zipf-hot ``conv_id`` melts any hash-partitioned exchange. Two
mitigations, used together:

- AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
  default in session.py) handles joins at runtime;
- explicit salting for writes/repartitions where AQE doesn't apply:
  partition by ``(extra_cols..., pmod(xxhash64(key, salt_bits), n))`` so
  one hot key spreads over ``n_salts`` tasks. The salt derives from
  xxhash64 of the key plus a per-row component, deterministic and
  RNG-free.

``spread`` handles the opposite skew — too FEW input partitions: a
narrow scan is hash-spread across all cores before CPU-heavy map work.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_expr(key: str, n_salts: int, row_cols: Sequence[str] = ("turn_idx",)):
    """Deterministic salt in [0, n_salts): hash of key + row columns."""
    cols = [F.col(key)] + [F.col(c) for c in row_cols if c != key]
    return F.pmod(F.xxhash64(*cols), F.lit(n_salts))


def salted_repartition(
    df: DataFrame,
    key: str,
    n_salts: int = 8,
    extra_cols: Sequence[str] = (),
    num_partitions: int | None = None,
    with_key: bool = True,
) -> DataFrame:
    """Repartition on (extra_cols, key, salt) — hot keys spread n_salts-wide
    when the frame carries a per-row salt column (``turn_idx`` and/or
    ``ts``); without one the salt is constant per key, so a hot key
    still lands in one task.

    ``with_key=False`` drops the raw key COLUMN from the partitioning
    expression (the salt still derives from it, so with a per-row salt
    column a hot key still spreads n_salts-wide): partitioning
    degenerates to the (extra_cols, salt) group key, so each reduce
    task holds only the few groups that hash to it instead of a slice
    of EVERY group. For a dynamic-partitioned write that is the
    difference between O(groups) and O(tasks × groups) output files
    (guide §6 small-files; measured 1572 → ~170 files and −45% write
    wall on the 1M-row pipeline sink). Keep ``with_key=True`` when
    downstream needs rows of one key clustered or a uniform row-level
    spread.
    """
    row_cols = [c for c in ("turn_idx", "ts") if c in df.columns]
    salt = salt_expr(key, n_salts, row_cols).alias("__salt")
    cols = [F.col(c) for c in extra_cols] + ([F.col(key)] if with_key else []) + [salt]
    if num_partitions is None and not with_key:
        # Without the key column the exchange has only dirs × salts
        # distinct groups; at 1× cores a task drawing several of the
        # big groups becomes the write straggler. 2× cores halves the
        # group-per-task quantization and lets short tasks backfill
        # (guide §2.6) — measured (interleaved A/B, 8M-row sink write):
        # 1× 10.1 s / 2× 8.6 s / 4× 10.0 s; at 1M rows 1× wins by
        # ~0.7 s but 2× is the only setting with no regression at
        # either size. The per-dir FILE bound is unchanged
        # (≤ n_salts: each (dir, salt) group lands in exactly one task).
        num_partitions = 2 * df.sparkSession.sparkContext.defaultParallelism
    elif num_partitions is None:
        # An explicit count pins the exchange: repartition(cols) without N
        # lets AQE rebalance to ~advisory-sized (64 MB) partitions, which
        # caps downstream stage parallelism at data-size/64MB tasks — on a
        # wide executor that leaves most cores idle (measured: a 519 MB
        # write ran ~10 tasks on 32 cores). 1× cores feeds every core;
        # 2× cores measured consistently SLOWER on the fan-out write
        # (64 vs 32 reducers at 1M rows: ~9-16s vs ~5-10s) — each extra
        # reducer multiplies dynamic-partition writer files (tasks × dirs)
        # and per-task sort/flush overhead without adding parallelism.
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, *cols)


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` to ``defaultParallelism``
    partitions — only when it has fewer partitions than that.

    Single-file, single-row-group inputs scan as ONE task, and so does
    every map stage fused with the scan (tokenize, shingle, signature
    kernels, vector math) however many cores the session has (guide §2.5
    "input skew": fix at the source or repartition right after the
    read). Hashing a unique key is deterministic and skips the sort a
    keyless round-robin repartition needs. On an input that already
    scans with ≥ ``defaultParallelism`` partitions the repartition would
    be a pure extra exchange (guide §2.4; measured ~0.45 s of the
    1M-doc minhash wall), so it is skipped. Value-safe: the row set is
    unchanged.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, F.col(key))
    return df
