"""SemDeDup-style semantic deduplication over an embedding column.

Composes the two exact primitives the repo already ships — deterministic
Lloyd's k-means (operators/clustering.py) and exact rounded cosine
(functions/vectors.py, the dedup_near_embedding contract) — into the
published SemDeDup shape (Abbas et al., 2023, arXiv:2303.09540): cluster
the corpus, then prune near-duplicates WITHIN each cluster only, accepting
that a near-dup pair split across a cluster boundary survives (that miss
rate is the price of never running the O(N²) all-pairs cosine).

Scale story (the reason this operator exists next to the exact
``embedding_cosine_pairs``): the candidate-pair space drops from N² to
Σ sᵢ² over cluster sizes sᵢ. k grows with the corpus (k ≈ N/target_size
keeps sᵢ bounded), so at 100 TB the per-cluster prune is embarrassingly
parallel over a layout partitioned by cluster — the same
partitionBy(cell) layout the persisted IVF index (operators/similarity.py)
already writes; assignment itself is one narrow scan with the k×d
centroid matrix inlined as a codegen literal (no shuffle, no join).

Determinism contract (both halves independently driver-hash-green):
cluster labels follow the quantized-centroid k-means recipe
(clustering.py — 4-dp centroids each round, left-to-right distance folds,
argmin ties to the lowest seed slot); the drop rule compares cosine
ROUNDED to 6 dp against the threshold, exactly as dedup_near_embedding
does, so a boundary cosine lands on the same side in Spark and DuckDB.

Reference scope: hadoop-word-score (ComputeWordScore.java) has no
embedding surface at all — this is EXT coverage for the LLM-data-pipeline
mandate (near-dup dedup over ``embeddings.parquet``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .clustering import kmeans_assign, kmeans_fit
from .similarity import _as_matrix, _rounded_cosine, _row_norms


def _assigned_and_pairs(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    threshold: float,
    centroid_decimals: int,
) -> tuple[DataFrame, DataFrame]:
    """(assignment, within-cluster dup pairs) — the shared fit half.

    Raises on an empty corpus (kmeans_fit fails fast rather than NaN-ing).
    """
    cents = kmeans_fit(
        vecs, vec_col, id_col, k=k, iterations=iterations,
        centroid_decimals=centroid_decimals,
    )
    # Narrow assignment pass; checkpointed because two consumers read it
    # (the per-cluster pair pass + the summary's sizes agg) — each would
    # otherwise replay the scan + k×d distance fold. At 100 TB the
    # equivalent move is one write partitionBy(cluster), after which the
    # per-cluster prune is partition-local (see module docstring).
    asg = (
        kmeans_assign(vecs, vec_col, cents)
        .select(F.col(id_col).alias("vid"), "cluster", F.col(vec_col).alias("v"))
        .localCheckpoint()
    )
    return asg, _within_cluster_pairs(asg, threshold)


def _within_cluster_pairs(asg: DataFrame, threshold: float) -> DataFrame:
    """(cluster, id_a, id_b, cosine_sim) for every same-cluster pair with
    round(cos, 6) >= threshold and id_a < id_b.

    One Arrow batch per cluster, scored as a single BLAS gram matrix
    (norms computed once per vector, not twice per pair) — the
    brute_force_topk pattern (operators/similarity.py). The r8 per-pair
    interpreted-HOF cosine evaluated three 64-element folds × every pair
    (16.6 s at sf0.1, 27% of the whole bench); the matmul is one
    vectorized kernel per cluster. Memory is O(sᵢ²) per group, which is
    exactly the quantity SemDeDup's k ≈ N/target_size rule bounds — the
    operator's scale contract already requires cluster sizes that fit a
    worker (module docstring), so the gram matrix does too.

    Determinism: groups are sorted by id so the upper triangle enumerates
    id_a < id_b; np.round(·, 6) + 0.0 matches the DuckDB oracle at 6 dp for
    the same reason the driver-green brute_force_topk path does (cosine
    never lands within summation noise of a half-ulp at 6 dp); zero-norm
    rows yield non-finite cosines and are dropped, mirroring the old
    null-propagating nullif contract.
    """
    id_dtype = asg.schema["vid"].dataType.simpleString()
    cl_dtype = asg.schema["cluster"].dataType.simpleString()
    out_schema = (
        f"cluster {cl_dtype}, id_a {id_dtype}, id_b {id_dtype},"
        " cosine_sim double"
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "cluster": pd.Series(dtype=pdf["cluster"].dtype),
            "id_a": pd.Series(dtype=pdf["vid"].dtype),
            "id_b": pd.Series(dtype=pdf["vid"].dtype),
            "cosine_sim": pd.Series(dtype="float64"),
        })
        # NULL vectors, and pairs of MISMATCHED lengths, produced a null
        # cosine under the old HOF path (zip_with pads with null, the fold
        # propagates it) and were silently excluded from pairs — the matrix
        # path must degrade identically instead of crashing np.array on a
        # ragged/None column (review r9, confirmed repro). Null ELEMENTS
        # arrive as NaN via Arrow and already fall to the isfinite filter.
        pdf = pdf[pdf["v"].notna()]
        frames = []
        for _, grp in pdf.groupby(pdf["v"].map(len), sort=False):
            grp = grp.sort_values("vid")
            ids = grp["vid"].to_numpy()
            n = len(ids)
            if n < 2:
                continue
            mat = _as_matrix(grp["v"])
            norms = _row_norms(mat)
            # the shared kernel (similarity._rounded_cosine): this path
            # rounds and treats zero norms exactly as brute_force_topk
            # does; its half-to-even caveat lives there — if a red ever
            # points here, change that one site
            sims = _rounded_cosine(mat @ mat.T, norms, norms)
            ia, ib = np.triu_indices(n, k=1)
            s = sims[ia, ib]
            keep = np.isfinite(s) & (s >= threshold)
            if not keep.any():
                continue
            frames.append(pd.DataFrame({
                "cluster": np.repeat(grp["cluster"].iloc[0], int(keep.sum())),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine_sim": s[keep],
            }))
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    from ..session import default_parallelism

    # explicit-numPartitions repartition: exempt from AQE coalescing, which
    # sizes grouped-Python stages by bytes while their cost is per-group
    return (
        asg.repartition(default_parallelism(), "cluster")
        .groupBy("cluster")
        .applyInPandas(score, out_schema)
    )


def semantic_dup_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.4,
    centroid_decimals: int = 4,
) -> DataFrame:
    """Within-cluster near-dup pairs: (cluster, id_a, id_b, cosine_sim).

    ``id_a < id_b`` and ``round(cos, 6) >= threshold``; both ids sit in the
    same fitted cluster. A vector is "dropped" downstream iff it appears as
    ``id_b`` in at least one pair — an order-free rule (b is pruned when ANY
    lower-id in-cluster neighbour clears the threshold, whether or not that
    neighbour itself survives), so the survivor set needs no iteration and
    no chain-following, unlike connected-components dedup.
    """
    _, pairs = _assigned_and_pairs(
        vecs, id_col, vec_col, k, iterations, threshold, centroid_decimals
    )
    return pairs.select("cluster", "id_a", "id_b", "cosine_sim")


def semantic_dedup_summary(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.4,
    centroid_decimals: int = 4,
) -> DataFrame:
    """Per-cluster prune report: (cluster, n_vectors, n_dup_pairs,
    n_dropped, n_kept), one row per fitted cluster (zero-pair clusters
    included), ordered by cluster id."""
    asg, pairs = _assigned_and_pairs(
        vecs, id_col, vec_col, k, iterations, threshold, centroid_decimals
    )
    pair_stats = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
    )
    sizes = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        sizes.join(pair_stats, "cluster", "left")
        .fillna(0, subset=["n_dup_pairs", "n_dropped"])
        .select(
            "cluster",
            "n_vectors",
            "n_dup_pairs",
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
        )
        .orderBy("cluster")
    )
