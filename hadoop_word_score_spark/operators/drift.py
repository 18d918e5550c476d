"""Population-stability-index (PSI) drift math.

`psi_binned_counts` is the only corpus-sized pass, and its output —
(event_type, phase, bucket, c) counts — is ADDITIVE: counts from disjoint
slices of the events merge by elementwise sum. `psi_report` then runs the
densify + smoothed fold on the bounded (types × 2 × 10) relation.

Reference scope: hadoop-word-score has no monitoring surface; EXT coverage
(the `events_psi_drift` registry row consumes this module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def psi_binned_counts(events: DataFrame) -> DataFrame:
    """(event_type, phase, bucket, c) counts: fixed equi-width value
    buckets (10 × 50, top-clamped), phase = before/after 2024-01-16. One
    map-side-combined aggregation — the only pass that touches data
    volume."""
    binned = events.where(F.col("value").isNotNull()).select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "base")
        .otherwise("cur")
        .alias("phase"),
        F.least(F.floor(F.col("value") / 50.0), F.lit(9))
        .cast("long")
        .alias("bucket"),
    )
    return binned.groupBy("event_type", "phase", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )


def psi_report(cnt: DataFrame) -> DataFrame:
    """Per-type PSI from a (event_type, phase, bucket, c) relation:
    densified to all 10 buckets per type, Laplace-smoothed (+0.5/bucket,
    +5/total) so empty buckets stay finite, ROUND(6) on the 10-term fold.
    Everything here runs on the bounded bucket relation."""
    spark = cnt.sparkSession
    cnt = cnt.localCheckpoint()  # bounded; reused by axis + both phases
    axis = cnt.select("event_type").distinct()
    buckets = spark.range(10).select(F.col("id").alias("bucket"))
    base = cnt.where(F.col("phase") == "base").select(
        "event_type", "bucket", F.col("c").alias("c_base")
    )
    cur = cnt.where(F.col("phase") == "cur").select(
        "event_type", "bucket", F.col("c").alias("c_cur")
    )
    dense = (
        axis.crossJoin(buckets)
        .join(base, ["event_type", "bucket"], "left")
        .join(cur, ["event_type", "bucket"], "left")
        .fillna(0, subset=["c_base", "c_cur"])
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("c_base").alias("n_base"), F.sum("c_cur").alias("n_cur")
    )
    p = (F.col("c_cur") + 0.5) / (F.col("n_cur") + 5.0)
    q = (F.col("c_base") + 0.5) / (F.col("n_base") + 5.0)
    return (
        dense.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_base", "n_cur")
        .agg((F.round(F.sum((p - q) * F.log(p / q)), 6) + F.lit(0.0)).alias("psi"))
        .select(
            "event_type",
            F.col("n_base").cast("bigint").alias("n_base"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            "psi",
        )
        .orderBy("event_type")
    )
