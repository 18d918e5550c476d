"""Streamed heavy hitters: a Misra-Gries summary over a token stream, exactly once.

``heavy_hitters_monitor_sink`` folds each micro-batch's bounded summary into
the standing summary under the pointer protocol of ``streaming/sinks.py``,
and ``heavy_hitters_report_from_store`` serves it at any time without
touching the token history. The ``heavy_hitters_streamed`` query runs both.

Reference scope: EXT (the reference is batch-only); the query's oracle
checks the summary's certificate against exact batch counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Misra-Gries summaries are MERGEABLE (Agarwal, Cormode, Huang, Phillips,
# Wei, Yi — "Mergeable Summaries", PODS 2012): merging two capacity-c
# summaries by summing counts and re-pruning preserves the N/(c+1) error
# bound for the COMBINED stream. That makes streamed vocabulary statistics
# possible without ever storing the vocabulary: per micro-batch one bounded
# summary pass, then a driver-side merge into the standing <= capacity-row
# summary — state never grows with tokens OR with distinct terms. The prune
# step (subtract the (capacity+1)-th largest, drop non-positives) is not a
# commutative column-wise fold, so the merge runs on the driver under the
# pointer/commit exactly-once protocol.


def heavy_hitters_monitor_sink(
    target: str, term_col: str = "term", capacity: int = 512
):
    """``foreachBatch`` body maintaining a streamed Misra-Gries summary.

    Per batch: one bounded summary pass over the batch's tokens
    (``operators/frequent.py``'s mapInPandas phase — output and collect
    are <= partitions x (capacity+1) rows by construction), then the
    mergeable-summaries fold into the standing summary on the driver.
    The standing table after ANY drain certifies, for N_total tokens seen:
    every term with true count > N_total/(capacity+1) is present, and
    every present term's count is an underestimate by at most
    N_total/(capacity+1). Exactly-once via the shared batchId replay
    guard + snapshot-then-pointer-swap commit.
    """
    import json as _json

    import pandas as _pd
    from pyspark.sql import functions as F

    from ..operators.frequent import _mg_prune, _mg_summarize
    from .sinks import _commit, _read_pointer, _validate_local_target

    target = _validate_local_target(target, "heavy_hitters_monitor_sink")
    if capacity < 1:
        raise ValueError(
            f"heavy_hitters_monitor_sink: capacity must be >= 1, got {capacity}"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os as _os

        spark = batch_df.sparkSession
        version, last_batch = _read_pointer(target)
        if batch_id <= last_batch:
            return  # replayed batch — already committed
        rows = (
            batch_df.select(F.col(term_col).alias("term"))
            .mapInPandas(
                _mg_summarize("term", capacity),
                schema="term string, mg_count long",
            )
            .collect()
        )  # bounded: <= partitions x (capacity + 1) rows
        counts: dict[str, int] = {}
        meta = {"capacity": capacity, "n_total": 0}
        if version > 0:
            with open(
                _os.path.join(target, f"_hh_meta.v{version}.json"),
                encoding="utf-8",
            ) as f:
                meta = _json.load(f)
            if meta["capacity"] != capacity:
                # a capacity change silently rescales the error bound the
                # standing counts were pruned under — refuse, like the
                # bucket-count and PQ-shape guards
                raise ValueError(
                    f"heavy_hitters_monitor_sink: table at {target!r} was "
                    f"built with capacity={meta['capacity']}, sink "
                    f"configured with {capacity}; rebuild or match it"
                )
            standing = spark.read.parquet(
                _os.path.join(target, f"v={version}")
            ).collect()  # <= capacity rows
            counts = {r.term: r.mg_count for r in standing}
        n_batch = 0
        n_terms = 0
        for r in rows:
            if r.term is None:
                n_batch += r.mg_count  # the phase-1 sentinel: raw token count
            else:
                n_terms += 1
                counts[r.term] = counts.get(r.term, 0) + r.mg_count
        if n_batch == 0 and n_terms == 0:
            # empty batch: advance the replay guard on the SAME version —
            # no new snapshot, no new meta (review r12: an idle source with
            # periodic triggers would otherwise accumulate identical version
            # dirs without bound)
            _commit(target, version, batch_id)
            return
        counts = _mg_prune(counts, capacity)
        meta["n_total"] = int(meta["n_total"]) + int(n_batch)
        new_version = version + 1
        pdf = _pd.DataFrame(
            {"term": list(counts.keys()),
             "mg_count": _pd.Series(list(counts.values()), dtype="int64")}
        )
        spark.createDataFrame(
            pdf, schema="term string, mg_count long"
        ).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(target, f"v={new_version}")
        )
        with open(
            _os.path.join(target, f"_hh_meta.v{new_version}.json"),
            "w",
            encoding="utf-8",
        ) as f:
            _json.dump(meta, f)
        _commit(target, new_version, batch_id)

    return write_batch


def heavy_hitters_report_from_store(
    spark: SparkSession, target: str, k: int | None = None
) -> DataFrame | None:
    """The streamed summary served from the standing table (or None before
    the first commit): (term, mg_count, n_total, err_bound) ordered by
    mg_count desc, term asc. The certificate: true count is in
    [mg_count, mg_count + err_bound], and every term whose true count
    exceeds err_bound appears."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from .sinks import _read_pointer

    version, _ = _read_pointer(target)
    if version == 0:
        return None
    with open(
        _os.path.join(target, f"_hh_meta.v{version}.json"), encoding="utf-8"
    ) as f:
        meta = _json.load(f)
    err = int(meta["n_total"]) // (int(meta["capacity"]) + 1)
    out = (
        spark.read.parquet(_os.path.join(target, f"v={version}"))
        .select(
            "term",
            "mg_count",
            F.lit(int(meta["n_total"])).alias("n_total"),
            F.lit(err).alias("err_bound"),
        )
        .orderBy(F.desc("mg_count"), F.asc("term"))
    )
    return out.limit(k) if k is not None else out
