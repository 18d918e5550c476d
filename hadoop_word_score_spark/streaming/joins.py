"""Streaming joins (SURVEY §2.9 EXT): watermarked stream-stream interval joins.

The reference is batch-only (ComputeWordScore.java:218 blocks on completion);
this is the streaming-side join form its EXT surface needs, run by the
``join_interval_left_outer`` query. BOTH sides buffer in the state store; the
watermark plus an explicit time-range predicate bound that state (without the
range condition, state grows forever — Spark requires it for append-mode
correctness). State per key ≈ rows within the interval, evicted as the
watermark advances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """T-EXT stream-stream join: right rows within (l.ts, l.ts + max_delay].

    Both sides are watermarked and the join carries the closed time-range
    predicate — the two conditions Structured Streaming needs to compute a
    state-eviction bound for append mode.

    ``how="left_outer"`` emits unmatched left rows null-padded — but only
    once the watermark passes the row's join window (l_ts + max_delay),
    because until then a matching right row could still arrive. Two
    consequences the tests pin, because every production user hits them:
      1. outer results LAG the inner results by up to watermark + delay;
      2. rows near the END of a finite stream only flush if something
         advances the watermark past their window (a later batch, or
         Spark's trailing no-data micro-batch) — "drain and stop" does not
         by itself guarantee the tail's null-padded rows.
    State cost is identical to the inner join: both sides buffer within
    the eviction bound, nothing more.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        # project ONLY joined/emitted columns: both sides of a stream-stream
        # join buffer every row in checkpointed state until watermark
        # eviction, so each extra column is paid per buffered row (r8 review)
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    if how not in ("inner", "left_outer", "leftouter", "left"):
        raise ValueError(
            f"interval_join_streams supports how='inner'|'left_outer', got {how!r}"
        )
    return l.join(r, cond, how).select(
        F.col("l_key").alias("user_id"),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
    )
