"""Deterministic synthetic transcript tables (seeded, scale-free).

Shape mandated by BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``.

Everything is a pure column expression of the ``spark.range`` row id —
``xxhash64(id, seed)`` is the only "randomness" — so the same
``(n_rows, seed)`` produces byte-identical data at any parallelism, any
cluster size, and any scale. That is deliberate: generation at 10^12 rows
is embarrassingly parallel with zero driver state, and the local[8] vs
local[32] scaling benchmark runs on *identical* input by construction.

Data properties (mirroring the reference's test fixtures, FIXTURES.md):
- Zipf-ish hot conv_id keys (~20% of turns land on ``n_hot`` conversations)
  to exercise salted repartitioning / AQE skew-join.
- ``text`` embeds grok-parseable payloads
  ``tool_call=<name> status=<ok|err> dur_ms=<int>`` for ~85% of rows,
  free text otherwise (parse-miss path).
- ``tool`` is null ~10% and takes values missing from ``tool_dim`` ~10%
  (default_hash + tag_on_default_use path, mirroring
  /root/reference/spec/filters/jdbc_streaming_spec.rb:124-134).
- ``ts`` is monotone-ish in id spanning several hours with a small late
  fraction (checkpoint semantics: late rows behind the watermark are
  skipped forever, /root/reference/lib/logstash/plugin_mixins/jdbc/jdbc.rb:227-231).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ["user", "assistant", "system", "tool"]
KNOWN_TOOLS = [
    "search", "calculator", "browser", "python", "bash",
    "sql", "editor", "retrieval",
]
UNKNOWN_TOOLS = ["telemetry_probe", "shadow_tool"]
EPOCH_START = "2024-01-01 00:00:00"


def _h(seed: int):
    """Deterministic per-row uniform int from the range id."""
    return F.abs(F.xxhash64(F.col("id"), F.lit(seed)))


def gen_transcripts(
    spark: SparkSession,
    n_rows: int = 100_000,
    seed: int = 42,
    n_convs: int = 1000,
    n_hot: int = 3,
    hot_fraction: float = 0.2,
    late_fraction: float = 0.02,
    parse_fraction: float = 0.85,
    avg_gap_s: float = 0.5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Transcript fact table; deterministic function of (n_rows, seed)."""
    df = spark.range(0, n_rows, 1, num_partitions or 32)
    s = seed  # fold the seed into every hash stream
    u_hot = (F.abs(F.xxhash64(F.col("id"), F.lit(s + 1))) % 1_000_000) / 1_000_000.0
    conv_id = F.when(
        u_hot < F.lit(hot_fraction),
        F.concat(F.lit("conv_hot_"), (F.abs(F.xxhash64(F.col("id"), F.lit(s + 2))) % n_hot).cast("string")),
    ).otherwise(
        F.concat(F.lit("conv_"), F.lpad((F.abs(F.xxhash64(F.col("id"), F.lit(s + 3))) % n_convs).cast("string"), 6, "0")),
    )

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        (F.abs(F.xxhash64(F.col("id"), F.lit(s + 4))) % len(ROLES) + 1).cast("int"),
    )

    all_tools = KNOWN_TOOLS + UNKNOWN_TOOLS
    u_tool = (F.abs(F.xxhash64(F.col("id"), F.lit(s + 5))) % 1_000_000) / 1_000_000.0
    tool_pick = F.element_at(
        F.array(*[F.lit(t) for t in all_tools]),
        (F.abs(F.xxhash64(F.col("id"), F.lit(s + 6))) % len(all_tools) + 1).cast("int"),
    )
    tool = F.when(u_tool < 0.10, F.lit(None).cast("string")).otherwise(tool_pick)

    status = F.when(
        (F.abs(F.xxhash64(F.col("id"), F.lit(s + 7))) % 100) < 90, F.lit("ok")
    ).otherwise(F.lit("err"))
    dur_ms = (F.abs(F.xxhash64(F.col("id"), F.lit(s + 8))) % 5000).cast("int")
    u_parse = (F.abs(F.xxhash64(F.col("id"), F.lit(s + 9))) % 1_000_000) / 1_000_000.0
    text = F.when(
        u_parse < F.lit(parse_fraction),
        F.format_string(
            "turn %s: invoking tool_call=%s status=%s dur_ms=%s session=%s",
            F.col("id").cast("string"),
            F.coalesce(tool_pick, F.lit("none")),
            status,
            dur_ms.cast("string"),
            conv_id,
        ),
    ).otherwise(
        F.format_string(
            "free-form reflection %s with no structured payload",
            F.col("id").cast("string"),
        ),
    )

    # Monotone-ish event time: base advances with id; ~late_fraction of
    # rows are pushed back 2 hours (late data behind the watermark).
    u_late = (F.abs(F.xxhash64(F.col("id"), F.lit(s + 10))) % 1_000_000) / 1_000_000.0
    jitter_s = (F.abs(F.xxhash64(F.col("id"), F.lit(s + 11))) % 1000) / 1000.0
    offset_s = F.col("id") * F.lit(avg_gap_s) + jitter_s
    offset_s = F.when(u_late < F.lit(late_fraction), offset_s - 7200.0).otherwise(offset_s)
    ts = F.timestamp_seconds(F.unix_timestamp(F.lit(EPOCH_START)) + offset_s)

    with_cols = df.select(
        F.col("id"),
        conv_id.alias("conv_id"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    # turn_idx: dense, unique per conversation, deterministic (ordered by
    # the generation id). One shuffle at generation time only.
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("id")
    return (
        with_cols.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def gen_docs(
    spark: SparkSession,
    n_rows: int = 1_000_000,
    seed: int = 42,
    n_tokens: int = 25,
    vocab: int = 50_000,
    dup_every: int = 50,
) -> DataFrame:
    """Deterministic document corpus with CONTROLLED near-dup structure
    (for dedup benchmarks at volume — template-generated transcript text
    is pathological LSH input: thousands of exact copies per bucket turn
    the band join O(B²)).

    Every ``dup_every``-th row (id % dup_every == 1) is a near-duplicate
    of the previous id — same token stream except the last token — so a
    trigram minhash at 8M rows sees ~2% true near-dups (jaccard ≈
    (n_tokens-3)/n_tokens-ish) and everything else effectively unique
    over a ``vocab``-word vocabulary. All JVM-side expressions: no
    Python in the generator.
    """
    base = spark.range(n_rows)
    is_dup = (F.col("id") % dup_every == 1) & (F.col("id") > 0)
    src = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    toks = [
        F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(src, F.lit(seed), F.lit(k))) % vocab).cast("string"),
        )
        for k in range(n_tokens - 1)
    ]
    last = F.when(
        is_dup,
        F.concat(F.lit("m"),
                 (F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(-1)))
                  % vocab).cast("string")),
    ).otherwise(
        F.concat(F.lit("w"),
                 (F.abs(F.xxhash64(src, F.lit(seed), F.lit(n_tokens - 1)))
                  % vocab).cast("string")))
    return base.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *toks, last).alias("text"),
    )


def gen_tool_dim(spark: SparkSession) -> DataFrame:
    """Tool metadata dimension (KNOWN_TOOLS only — unknown tools miss)."""
    cats = {
        "search": "retrieval", "retrieval": "retrieval", "browser": "retrieval",
        "calculator": "compute", "python": "compute", "bash": "compute",
        "sql": "data", "editor": "authoring",
    }
    rows = [(t, f"{t}_v1", cats[t]) for t in KNOWN_TOOLS]
    return spark.createDataFrame(rows, "tool string, tool_name string, tool_category string")


def gen_role_dim(spark: SparkSession) -> DataFrame:
    rows = [(r, r.capitalize(), i) for i, r in enumerate(ROLES)]
    return spark.createDataFrame(rows, "role string, role_label string, role_rank int")


def write_fixtures(spark: SparkSession, out_dir: str, n_rows: int = 100_000, seed: int = 42) -> None:
    """Materialize the three tables as parquet under ``out_dir``."""
    gen_transcripts(spark, n_rows=n_rows, seed=seed).write.mode("overwrite").parquet(f"{out_dir}/transcripts.parquet")
    gen_tool_dim(spark).write.mode("overwrite").parquet(f"{out_dir}/tool_dim.parquet")
    gen_role_dim(spark).write.mode("overwrite").parquet(f"{out_dir}/role_dim.parquet")
