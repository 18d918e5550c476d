"""MERGE INTO / upsert as a batch operator (EXT; SURVEY §2.10).

The reference recomputes its whole output every run (two fresh MapReduce
jobs, ComputeWordScore.java:165-218); an incremental 100 TB pipeline instead
folds a (much smaller) change set into the standing corpus. Spark's DataFrame
API has no MERGE primitive without a table format (Delta/Iceberg), but the
relational core is exactly one full-outer join on the key:

    matched        -> take source row   (WHEN MATCHED THEN UPDATE SET *)
    source-only    -> insert source row (WHEN NOT MATCHED THEN INSERT *)
    target-only    -> keep target row
    matched+delete -> drop the row      (WHEN MATCHED AND <cond> THEN DELETE)

Scale: one shuffle of each side on the key — and the source side is the
change set, typically orders of magnitude smaller, so AQE turns its side of
the join into a broadcast. Rewriting only touched partitions (the other half
of a real MERGE) is the table format's job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    delete_when: Column | None = None,
) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``key`` (same schemas).

    ``delete_when`` is evaluated against matched *source* rows; matches are
    dropped from the result (MERGE's WHEN MATCHED ... THEN DELETE arm).
    """
    if target.columns != source.columns:
        raise ValueError(
            f"schema mismatch: target {target.columns} vs source {source.columns}"
        )
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    matched = F.col(f"s.{key}").isNotNull()
    out_cols = [
        F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in target.columns
    ]
    if delete_when is not None:
        # SQL MERGE semantics: a NULL delete condition means the DELETE arm
        # does NOT fire (the row is updated, not dropped). Without the
        # coalesce, keep evaluates to NULL for such rows and filter() drops
        # them — a silent delete (review r9, confirmed against ANSI MERGE).
        keep = ~(
            matched
            & F.col(f"t.{key}").isNotNull()
            & F.coalesce(delete_when, F.lit(False))
        )
        joined = joined.filter(keep)
    return joined.select(*out_cols)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed diff of two table snapshots: one row per key present in
    either side with ``change_type`` in {'added', 'deleted', 'changed'};
    unchanged keys are omitted. Output carries the key columns plus
    ``change_type``, ordered by key.

    ``compare_cols`` defaults to every non-key column the two schemas
    share. Comparison is NULL-SAFE per column (NULL == NULL holds, NULL
    vs value is a change) — the semantics a CDC/audit consumer expects.

    Scale: exactly one full-outer join shuffled on the key — the same
    single-shuffle shape as merge_upsert above; the per-column comparison
    is a codegen conjunction inside the join's projection. At 100 TB both
    snapshots hash-shuffle once; with snapshots bucketed on the key the
    Exchange disappears entirely.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in key_cols
        ]
    o = old.select(
        *[F.col(k).alias(f"k_{k}") for k in key_cols],
        *[F.col(c).alias(f"o_{c}") for c in compare_cols],
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"k_{k}") for k in key_cols],
        *[F.col(c).alias(f"n_{c}") for c in compare_cols],
        F.lit(True).alias("in_new"),
    )
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    joined = o.join(n, [f"k_{k}" for k in key_cols], "full_outer")
    change = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("deleted"))
        .when(~same, F.lit("changed"))
    )  # unchanged -> NULL -> filtered
    return (
        joined.select(
            *[F.col(f"k_{k}").alias(k) for k in key_cols],
            change.alias("change_type"),
        )
        .where(F.col("change_type").isNotNull())
        .orderBy(*key_cols)
    )
