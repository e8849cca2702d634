"""Conversation assembly: turns → one training document per conversation.

The canonical last stage of a transcript training-data pipeline: gather a
conversation's turns in stable (turn_idx) order, render them into one
text blob, and attach budget stats (turn/token counts, time span).

Physical shape: one shuffle on conv_id (the unavoidable one), then
``collect_list(struct(turn_idx, ...))`` + ``array_sort`` + ``transform``
+ ``array_join`` — all JVM expressions. array_sort on a struct array
orders by the first field (turn_idx), giving deterministic rendering
without a window or secondary sort. Salting does NOT apply here (the
group must be reunited); skewed giant conversations are handled by AQE
skew-join/partition splitting and, above a threshold, by capping turns
per document (``max_turns``) — a 10^6-turn conversation is a data bug,
not a document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.textstats import tokens_expr


def render_turn(role: Column, text: Column) -> Column:
    return F.concat(role, F.lit(": "), text)


def assemble_conversations(
    df: DataFrame,
    max_turns: int | None = None,
    sep: str = "\n",
) -> DataFrame:
    """One row per conv_id: ordered rendered text + budget stats.

    With ``max_turns`` set, the heavy rendered-turn struct is NULLED for
    rows beyond the cap before aggregation (``collect_list`` skips
    nulls), so a pathological 10⁶-turn conversation contributes only
    ``max_turns`` structs to the aggregation buffer while ``n_turns`` /
    ``first_ts`` / ``last_ts`` still cover every raw row. The cap's
    per-conv ranking adds one window over the same conv_id exchange
    (deterministic given unique turn_idx per conversation).
    """
    turn = F.struct(
        F.col("turn_idx").alias("turn_idx"),
        render_turn(F.col("role"), F.col("text")).alias("line"),
        tokens_expr(F.col("text")).alias("toks"),
    )
    if max_turns is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        turn = F.when(F.row_number().over(w) <= max_turns, turn)
        df = df.withColumn("__turn", turn)
        turn = F.col("__turn")
    g = df.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(turn)).alias("__turns"),
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    turns = F.col("__turns")
    doc = F.array_join(F.transform(turns, lambda t: t["line"]), sep)
    n_tokens = F.aggregate(
        turns, F.lit(0).cast("bigint"), lambda acc, t: acc + F.size(t["toks"])
    )
    return g.select(
        "conv_id",
        doc.alias("document"),
        "n_turns",
        n_tokens.alias("n_tokens"),
        "first_ts",
        "last_ts",
    )

