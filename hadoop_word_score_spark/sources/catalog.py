"""Catalog / table-statistics surface (the ANALYZE TABLE story).

The reference has no catalog at all (a 2-job MapReduce pipeline over raw
JSON, ComputeWordScore.java:138-142 — paths in, path out). A queryable
engine needs one: per-table row counts and per-column NDV/min/max/null
counts feed cost-based decisions (join ordering, broadcast thresholds) and
data-quality dashboards.

:func:`collect_table_stats` is an engine-side profile relation, one scan
per table. ``approx=True`` swaps exact ``count(distinct)`` for HLL
``approx_count_distinct``: at 100 TB exact multi-column NDV forces an Expand
(k duplicate rows per input row, k = columns profiled); the HLL sketch keeps
the profile a single pass with partial aggregation and is what a production
ANALYZE runs. Exact is the oracle-comparable mode the driver verifies at
test SF.

Column-type policy for min/max: Integer/Long/String/Timestamp-as-NDV-only.
Doubles and timestamps profile NDV and null counts but emit NULL min/max —
their string formatting is engine-specific (shortest-round-trip float repr,
fractional-second rendering), which would make an equality oracle assert
formatting, not statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import TABLES, load_table

# types whose min/max cast to string identically across engines
_MINMAX_TYPES = (T.IntegerType, T.LongType, T.StringType)


def _profile_one(df: DataFrame, table: str, approx: bool) -> DataFrame:
    """(tbl, col, n_rows, n_nulls, ndv, min_val, max_val) — ONE aggregation
    over ``df`` (single scan; exact mode adds Catalyst's count-distinct
    Expand, approx mode stays a plain partial/final HashAggregate)."""
    cols = df.schema.fields
    aggs: list = [F.count(F.lit(1)).alias("_n")]
    for f in cols:
        c = f.name
        # coalesce: SUM over zero rows is NULL, but an empty relation has
        # zero nulls, not unknown nulls
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"_nulls_{c}"
            )
        )
        if approx:
            # rsd=0.02: the default 5% sketch misestimates a CBO join-size
            # input by enough to matter; 2% costs ~6x the sketch memory
            # (still KBs/column) and stays a single partial-agg pass
            aggs.append(F.approx_count_distinct(c, rsd=0.02).alias(f"_ndv_{c}"))
        else:
            aggs.append(F.count_distinct(F.col(c)).alias(f"_ndv_{c}"))
        if isinstance(f.dataType, _MINMAX_TYPES):
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"_min_{c}"))
            aggs.append(F.lit(None).cast("string").alias(f"_max_{c}"))
    one = df.agg(*aggs)
    # melt the single wide row into per-column rows (stack is a Generate,
    # no shuffle; the whole profile is agg + stack)
    stack_args = ", ".join(
        f"'{f.name}', _nulls_{f.name}, _ndv_{f.name}, _min_{f.name}, _max_{f.name}"
        for f in cols
    )
    return one.select(
        F.lit(table).alias("tbl"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col, n_nulls, ndv, min_val, max_val)"
        ),
        F.col("_n").alias("n_rows"),
    ).select("tbl", "col", "n_rows", "n_nulls", "ndv", "min_val", "max_val")


def collect_table_stats(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """Profile relation over ``tables`` (default: every registry table that
    has no array column — embeddings' vector column has no meaningful
    NDV/min/max). One scan per table, unioned."""
    names = tables if tables is not None else [
        t for t, sch in TABLES.items()
        if not any(isinstance(f.dataType, T.ArrayType) for f in sch.fields)
    ]
    if not names:
        raise ValueError("collect_table_stats: no tables to profile")
    parts = [
        _profile_one(load_table(spark, sf_dir, t), t, approx) for t in names
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 16,
    exact: bool = True,
) -> DataFrame:
    """Equi-depth (equi-height) histogram of ``value_col``: k buckets of
    ~equal ROW COUNT with per-bucket (n_rows, lo, hi) — the histogram shape
    CBOs actually want (equi-width buckets collapse under skew; equi-depth
    puts the resolution where the data is). Returns
    (bucket, n_rows, lo, hi) ordered by bucket, 1-based buckets.

    ``exact=True`` (oracle mode): bucket assignment follows ANSI NTILE
    semantics over the total order (value, id) — the first ``n mod k``
    buckets get one extra row — computed in closed form from a DISTRIBUTED
    global rank (operators/rank.py; never a one-partition window), then
    one bucket-keyed agg. Two scans total (rank offsets + agg).

    ``exact=False`` (scale mode): bucket boundaries come from ONE
    approx_percentile pass (mergeable KLL-style sketch partials, no
    Expand, no sort) and rows bucket by comparing against the k-1
    boundary literals inside the scan — the production path at 100 TB,
    where exact depth is neither needed nor worth a global sort. Bucket
    populations are then approximately-equal rather than exactly NTILE.
    """
    from ..operators.rank import global_rank

    v = df.select(
        F.col(value_col).alias("val"), F.col(id_col).alias("vid")
    ).where(F.col("val").isNotNull())
    if not exact:
        cuts = v.agg(
            F.percentile_approx(
                "val", [i / k for i in range(1, k)], 100_000
            ).alias("c")
        ).collect()[0].c
        cuts = cuts or []  # empty/all-null input: percentile sketch is NULL
        bucket = F.lit(1)
        for c in cuts:
            bucket = bucket + F.when(F.col("val") > F.lit(c), 1).otherwise(0)
        assigned = v.select(bucket.cast("int").alias("bucket"), "val")
    else:
        n = v.count()
        q, r = divmod(n, k)
        ranked = global_rank(v, ["val", "vid"], rank_col="grank")
        # ANSI NTILE closed form: buckets 1..r hold q+1 rows, the rest q.
        # q==0 (fewer rows than buckets) only reaches the first branch.
        head = (q + 1) * r
        bucket = F.when(
            F.col("grank") <= F.lit(head),
            ((F.col("grank") - 1) / F.lit(q + 1)).cast("long") + 1,
        ).otherwise(
            ((F.col("grank") - F.lit(head) - 1) / F.lit(max(q, 1))).cast("long")
            + F.lit(r)
            + 1
        )
        assigned = ranked.select(bucket.cast("int").alias("bucket"), "val")
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
        )
        .orderBy("bucket")
    )
