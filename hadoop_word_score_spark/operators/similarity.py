"""Similarity search over embedding columns (SURVEY §2.10 L3).

Two paths, same output schema:
  - ``brute_force_topk``  : exact cosine top-k — the baseline and oracle.
  - ``lsh_bucketed_topk`` : random-hyperplane LSH prefilter — the scale path;
    candidates only within matching hash buckets, recall measured against the
    exact path in tests.

Cosine evaluation is Arrow-vectorized everywhere in this module (numpy
matmul/einsum per batch): the exact path scores query×candidate blocks, the
approximate paths score surviving pairs. The JVM-side HOF cosine
(functions/vectors) remains the oracle-of-record arithmetic for the
value-hash-checked exact pair query (operators/dedup.embedding_cosine_pairs);
here every consumer rounds to 6 dp and is recall-bound-checked, where the
two arithmetics are interchangeable.

Shared ANN kernels, the one implementation of each step for this module,
operators/pq.py and operators/semdedup.py: ``_unit_rows`` (zero-norm-guarded
unit rows), ``_rounded_cosine`` (the served 6-dp cosine, and the one place
that decides a zero-norm vector scores NaN, i.e. has no neighbours),
``_nearest_cell`` (centroid argmax), ``_pq_codes``, ``_lloyd_partials``,
``_collect_queries``, ``_plan_probes``, ``_probe_scan``, ``_emit_pairs`` and
``_ranked_topk``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_matrix(vectors) -> np.ndarray:
    """An Arrow batch's array column as a float64 (rows, dim) matrix."""
    return np.array(list(vectors), dtype=np.float64)


def _row_norms(mat: np.ndarray) -> np.ndarray:
    return np.sqrt((mat * mat).sum(axis=1))


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm. A zero row stays zero (its norm is
    taken as 1): it scores 0 against every centroid, so assignment falls
    to the tie-break instead of NaN."""
    norm = _row_norms(mat)
    norm[norm == 0] = 1.0
    return mat / norm[:, None]


def _unit_centroids(cent_rows: list) -> tuple[np.ndarray, np.ndarray]:
    """(cell ids, unit centroid matrix) from (cell, centroid) rows. Argmax
    positions map back through the ids, so a cell emptied by refinement
    can't skew the positional index (cell ids need not be dense)."""
    cell_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    cmat = np.array([r[1] for r in cent_rows], dtype=np.float64)
    return cell_ids, _unit_rows(cmat)


def _rounded_cosine(dots: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """round(dots / (na ⊗ nb), 6) — the served cosine of every Arrow
    scoring path. A zero norm gives NaN (0/0), which every caller drops:
    a zero-norm vector has no neighbours, on every top-k path.

    + 0.0 normalizes IEEE -0.0 (np.round preserves the sign where JVM
    F.round does not; sign-strict oracle hashes care). np.round is
    half-to-even where F.round/DuckDB are half-away — a flip needs the
    unrounded cosine to be an exact decimal half at 6 dp (constructible
    from power-of-2 coordinates, never observed in a driver corpus); if a
    red ever points here, this is the one site to change."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.round(dots / (na[:, None] * nb[None, :]), 6) + 0.0


def _nearest_cell(vm: np.ndarray, cunit: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(position in ``cunit`` of each row's max-cosine centroid, that
    cosine). Ties break to the lowest position (np.argmax takes the first
    maximum)."""
    sims = _unit_rows(vm) @ cunit.T
    best = np.argmax(sims, axis=1)
    return best, sims[np.arange(len(vm)), best]


def _pq_codes(vm: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(rows, m) int32 PQ codes: per subspace, the nearest codeword of the
    (m, k, d/m) codebook tensor by squared L2 (ties -> lowest code)."""
    m, _, dsub = books.shape
    sub = vm.reshape(len(vm), m, dsub)
    return np.stack(
        [((sub[:, mm, None, :] - books[mm][None]) ** 2)
         .sum(-1).argmin(1) for mm in range(m)],
        axis=1,
    ).astype(np.int32)


def _lloyd_partials(x: np.ndarray, labels: np.ndarray, key: str) -> pd.DataFrame:
    """One batch's Lloyd partial sums: for each distinct label (ascending)
    and coordinate, a (``key``, pos, s, cnt) row — the label, the
    coordinate, the group's sum there and the group size. Labels × dim
    rows per batch, so the mean Σs/Σcnt shuffles centroid-sized data,
    never the corpus."""
    groups = np.unique(labels)
    sels = [x[labels == g] for g in groups]
    dim = x.shape[1]
    return pd.DataFrame({
        key: np.repeat(groups, dim),
        "pos": np.tile(np.arange(dim), len(groups)),
        "s": np.array([sel.sum(0) for sel in sels]).ravel(),
        "cnt": np.repeat([len(sel) for sel in sels], dim),
    })


def _collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int,
    caller: str,
    hint: str = "",
) -> tuple[np.ndarray, np.ndarray]:
    """(query ids, float64 query matrix) collected to the driver, failing
    fast past ``max_queries`` (the query matrix rides every task closure)."""
    # guard fused into the collect (limit max_queries+1, then len check):
    # one Spark job instead of a count job followed by a collect job
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{caller} collects the query side to the driver; got "
            f">{max_queries} query vectors. Pass a smaller query set or "
            f"raise max_queries explicitly{hint}."
        )
    qids = np.array([r[0] for r in qrows])
    if qrows:
        qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    else:
        qmat = np.zeros((0, 1), dtype=np.float64)
    return qids, qmat


def _exact_sims(qmat: np.ndarray, vec_col: str):
    """Per-batch scorer: (candidates × queries) rounded cosines of the
    batch's ``vec_col`` against the closed-over query matrix."""
    qnorm = _row_norms(qmat)

    def sims(pdf: pd.DataFrame) -> np.ndarray:
        vm = _as_matrix(pdf[vec_col])
        return _rounded_cosine(vm @ qmat.T, _row_norms(vm), qnorm)

    return sims


def _emit_pairs(batches, qids: np.ndarray, id_col: str, sims_of, cell_mask=None):
    """The (query_id, cand_id, cosine_sim) frames of a scoring mapInPandas.
    ``sims_of(pdf)`` gives a batch's (candidates × queries) rounded
    cosines; self pairs and non-finite sims (zero norms) are dropped and,
    with ``cell_mask`` ({cell: which queries probed it}), so is every pair
    whose query did not probe the candidate's cell."""
    empty = pd.DataFrame(
        {"query_id": pd.Series(dtype=qids.dtype), "cand_id": pd.Series(dtype=qids.dtype),
         "cosine_sim": pd.Series(dtype="float64")}
    )
    for pdf in batches:
        if len(pdf) == 0 or qids.size == 0:
            yield empty
            continue
        cid = pdf[id_col].to_numpy()
        sims = sims_of(pdf)
        nc, nq = sims.shape
        flat_q = np.tile(qids, nc)
        flat_c = np.repeat(cid, nq)
        flat_s = sims.ravel()
        keep = (flat_q != flat_c) & np.isfinite(flat_s)
        if cell_mask is not None:
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            keep &= np.vstack([cell_mask[int(c)] for c in cells]).ravel()  # (nc, nq)
        yield pd.DataFrame(
            {"query_id": flat_q[keep], "cand_id": flat_c[keep],
             "cosine_sim": flat_s[keep]}
        )


def _scored_pairs(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int,
    caller: str,
) -> DataFrame:
    """(query_id, cand_id, cosine_sim) for every (query, candidate) pair —
    the shared Arrow-matmul scoring pass behind :func:`brute_force_topk`
    and :func:`hard_negative_topk` (see brute_force_topk's docstring for
    the determinism and max_queries contracts).
    """
    qids, qmat = _collect_queries(
        queries, id_col, vec_col, max_queries, caller,
        ", or use lsh_bucketed_topk/ivf_topk for distributed bulk search",
    )
    # derive the id dtype/schema from the input (ivf_probe_topk parity):
    # a string or int32 id column must survive unchanged — hardcoded int64
    # made the exact oracle path unusable on id schemas the approximate
    # paths support (r8 review)
    id_schema = queries.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_schema}, cand_id {id_schema}, cosine_sim double"
    sims = _exact_sims(qmat, vec_col)

    def score(batches):
        yield from _emit_pairs(batches, qids, id_col, sims)

    return candidates.select(
        F.col(id_col), F.col(vec_col)
    ).mapInPandas(score, out_schema)


def _ranked_topk(
    scored: DataFrame,
    k: int,
    order: tuple[str, str] = ("cosine_sim", "cand_id"),
    cols: tuple[str, ...] = ("query_id", "cand_id", "cosine_sim", "rank"),
) -> DataFrame:
    """The ``k`` best rows per query_id, ranked by ``order`` = (score
    DESC, tie-break ASC) into a ``rank`` column; returns ``cols``."""
    sim, tie = order
    w = Window.partitionBy("query_id").orderBy(F.desc(sim), F.asc(tie))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    The query side is collected to the driver and closed over by an Arrow
    pandas UDF (top-k search has few queries by construction — the same
    assumption a broadcast join would make, but the matmul replaces a
    nq×N row explosion: one BLAS call per candidate batch instead of
    nq·N·dim interpreted-HOF lambda evals). Candidates stream with no join
    and no shuffle until the final per-query rank, which carries only
    (query, cand, sim) triples. Ties on rounded similarity break by
    candidate id → fully deterministic. Summation order inside the dot
    product differs from the SQL oracle's strict left-to-right list_sum,
    but both round to 6 dp — a boundary flip needs ~1e-9 luck per value
    (oracle-checked green at test SF).

    ``max_queries`` guards the collect: the "few queries" assumption is
    load-bearing (the query matrix is closed over by every executor task),
    so a large query side fails fast at plan time with a clear error instead
    of OOMing the driver. For bulk all-pairs workloads use the LSH/IVF paths
    (or embedding_cosine_pairs), which keep both sides distributed.
    """
    scored = _scored_pairs(
        queries, candidates, id_col, vec_col, max_queries, "brute_force_topk"
    )
    return _ranked_topk(scored, k)


def hard_negative_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    lo: float = 0.15,
    hi: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
) -> DataFrame:
    """Top-k HARD NEGATIVES per query: the most-similar candidates whose
    cosine falls in the band [lo, hi) — similar enough to be informative
    for contrastive training, below the near-duplicate threshold so they
    are genuinely negative (the standard hard-negative mining recipe for
    embedding/retrieval training; band bounds follow the corpus's dup
    threshold, e.g. dedup_near_embedding's 0.4).

    Same machinery and contracts as :func:`brute_force_topk` (exact Arrow
    matmul, streamed candidates, deterministic (sim DESC, id) ties); the
    band filter applies BEFORE the rank, so rank k is the k-th best WITHIN
    the band. At bulk-query scale the candidates come from the mid-sim
    sign-LSH regime (3 planes) instead of a full scan — this exact path is
    the recall yardstick, mirroring the topk/LSH split.
    """
    scored = _scored_pairs(
        queries, candidates, id_col, vec_col, max_queries, "hard_negative_topk"
    )
    # a query is never its own hard negative: self-cosine 1.0 happens to
    # fall outside the default band, but the operator contract must hold
    # for ANY band a caller passes (advice r9: hi > 1.0 returned the query
    # as its own negative) — _scored_pairs drops self pairs for every band
    banded = scored.filter((F.col("cosine_sim") >= lo) & (F.col("cosine_sim") < hi))
    return _ranked_topk(banded, k)


def _cosine_pairs_udf():
    """Vectorized pairwise cosine: (array<float>, array<float>) → double.

    One einsum per Arrow batch instead of a per-row interpreted HOF chain —
    the candidate-scoring hot path of the LSH/IVF probes evaluates cosine
    once per (query, candidate) pair, and at bulk-query scale that is the
    dominant term after bucket pruning. Rounded to 6 dp by the callers, the
    result is interchangeable with functions/vectors.cosine_similarity
    (summation order differs pre-rounding only). Zero-norm pairs yield NaN
    and are filtered by callers (Spark sorts NaN ABOVE all doubles — an
    unfiltered NaN would win rank 1).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_pair(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.asarray([np.asarray(v, dtype=np.float64) for v in a])
        bm = np.asarray([np.asarray(v, dtype=np.float64) for v in b])
        if am.size == 0:
            return pd.Series(np.zeros(0, dtype=np.float64))
        num = np.einsum("ij,ij->i", am, bm)
        den = _row_norms(am) * _row_norms(bm)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(num / den)

    return cos_pair


def build_ivf_index(
    candidates: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, cell-assigned vectors).

    ``keep``: attribute columns carried through the FINAL assignment pass
    onto the index rows (the persist_*_index meta_cols). They ride the
    same Arrow batches the vectors already cross in, so attaching them is
    free — the previous id-equi-join back to ``candidates`` re-shuffled
    the whole corpus INCLUDING the vector column by id just to stitch a
    few bytes of metadata on (guide §2.4: remove shuffles outright). The
    refinement pass never sees them (it only needs (v, cell)).

    Spherical k-means, one Lloyd refinement: seed with the ``n_cells``
    lowest-id vectors (deterministic, data-dependent — unlike random-subset
    means, which all collapse to the global mean), assign by max cosine,
    recompute per-cell elementwise means, re-assign.

    Scale shape: centroids are bounded by construction (n_cells ≈ √N rows),
    so they collect to the driver and ride each assignment pass as a closure
    matrix — both passes are then NARROW mapInPandas argmax scans with zero
    shuffle and zero join (the previous crossJoin + groupBy(max_by) form
    shuffled every candidate vector once per pass). The only shuffle in the
    build is the elementwise mean: (cell, pos, value) triples — dim × N rows
    of 24 bytes, not vectors. Ties break to the lowest cell (np.argmax takes
    the first maximum). The index DataFrame is what you'd
    ``write.partitionBy("cell")`` so probes prune partitions at read time.
    """
    ids = F.col(id_col)
    seed_rows = [
        (i, r[0])
        for i, r in enumerate(
            candidates.orderBy(ids).limit(n_cells)
            .select(F.col(vec_col).alias("centroid"))
            .collect()
        )
    ]

    vec_schema = candidates.schema[vec_col].dataType.simpleString()
    # derive the id type from the input instead of assuming long: a string or
    # int id column must survive the mapInPandas round-trip unchanged
    id_schema = candidates.schema[id_col].dataType.simpleString()
    keep_schema = "".join(
        f", {c} {candidates.schema[c].dataType.simpleString()}" for c in keep
    )
    if not seed_rows:  # empty candidate set → empty centroids + index
        empty_cents = candidates.sparkSession.createDataFrame(
            [], f"cell int, centroid {vec_schema}"
        )
        empty_index = candidates.sparkSession.createDataFrame(
            [],
            f"{id_col} {id_schema}, {vec_col} {vec_schema}, "
            f"cell int{keep_schema}",
        )
        return empty_cents, empty_index

    # Refinement pass: one mapInPandas scan emitting per-batch PARTIAL sums
    # keyed by (cell, pos) — the pq_train/clustering.py pattern (r17,
    # guide §2.3 "aggregate before you shuffle"). The previous shape
    # (assign pass re-emitting every (vid, v, cell) row through the Python
    # boundary, then posexplode to N×dim rows feeding a corpus-wide avg
    # shuffle) moved the whole corpus twice to compute n_cells×dim means;
    # the partials are n_cells×dim rows of 3 numbers per batch, so nothing
    # corpus-sized crosses the boundary or the exchange. Mean = Σs/Σcnt —
    # the same quantity avg computed (summation order differs only within
    # the float ulp; centroids are not a declared query output, and every
    # build/probe oracle re-verified PASS).
    seed_cell_ids, seed_cunit = _unit_centroids(seed_rows)

    def refine_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = _as_matrix(pdf["v"])
            best, _ = _nearest_cell(vm, seed_cunit)  # ties -> first max, as assign_batches
            yield _lloyd_partials(vm, seed_cell_ids[best], "cell")

    refined = (
        candidates.select(F.col(vec_col).alias("v"))
        .mapInPandas(refine_partials, "cell int, pos int, s double, cnt long")
        .groupBy("cell", "pos")  # n_cells×dim keys, map-side combined
        .agg((F.sum("s") / F.sum("cnt")).alias("m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )
    refined_rows = [
        (r[0], r[1]) for r in refined.orderBy("cell").select("cell", "centroid").collect()
    ]
    cell_ids, cunit = _unit_centroids(refined_rows)

    def assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"vid": pdf["vid"],
                     "v": pd.Series(dtype="object"),
                     **{c: pdf[c] for c in keep},
                     "cell": pd.Series(dtype="int32")}
                )
                continue
            best, _ = _nearest_cell(_as_matrix(pdf["v"]), cunit)
            yield pd.DataFrame(
                {"vid": pdf["vid"], "v": pdf["v"],
                 **{c: pdf[c] for c in keep},
                 "cell": cell_ids[best].astype(np.int32)}
            )

    index = candidates.select(
        ids.alias("vid"), F.col(vec_col).alias("v"), *keep
    ).mapInPandas(
        assign_batches,
        f"vid {id_schema}, v {vec_schema}{keep_schema}, cell int",
    ).select(
        F.col("vid").alias(id_col), F.col("v").alias(vec_col), "cell", *keep
    )
    # the centroid rows were JUST collected (bounded ~sqrt(N)): return a
    # driver-local relation, not the lazy refinement lineage — broadcasting
    # or writing `refined` re-ran the full corpus assignment pass plus the
    # elementwise-mean shuffle a second time (r8 review)
    centroids = candidates.sparkSession.createDataFrame(
        refined_rows, "cell int, centroid array<double>"
    )
    return centroids, index


def _guard_broadcast_queries(queries: DataFrame, max_queries: int, what: str) -> None:
    """Fail fast when a path that BROADCASTS the query side (vectors ride
    every executor, multiplied by posexploded tables/probes) is handed a
    bulk query set — these are the 'scale paths' brute_force_topk's guard
    points at, and an unbounded broadcast OOMs precisely at the bulk scale
    they are mandated for (r8 review). One bounded limit+count job."""
    n = queries.limit(max_queries + 1).count()
    if n > max_queries:
        raise ValueError(
            f"{what} broadcasts the query side; got >{max_queries} query "
            f"vectors. Shard the query set, raise max_broadcast_queries "
            f"explicitly, or use embedding_cosine_pairs / the dedup LSH "
            f"pipeline for bulk all-pairs similarity."
        )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 8192,
) -> DataFrame:
    """Approximate top-k: IVF-flat — probe the ``n_probe`` nearest coarse
    cells, exact cosine within them. Same output schema as brute_force_topk.

    Work per query drops to ~n_probe/n_cells of the corpus; recall against
    the exact path is asserted in tests. At scale the index is built once and
    persisted partitioned by cell; probing reads only matching partitions.
    The probe relation (query vectors x n_probe) broadcasts — bounded by
    ``max_broadcast_queries`` (fail-fast, see _guard_broadcast_queries).
    """
    _guard_broadcast_queries(queries, max_broadcast_queries, "ivf_topk")
    centroids, index = build_ivf_index(candidates, n_cells, id_col, vec_col)
    cos_pair = _cosine_pairs_udf()
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    probes = _ranked_topk(
        q.crossJoin(F.broadcast(centroids))
        .withColumn("ccos", cos_pair("qvec", "centroid"))
        .filter(~F.isnan("ccos")),
        n_probe,
        order=("ccos", "cell"),
        cols=("query_id", "qvec", "cell"),
    )
    scored = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn("cosine_sim", F.round(cos_pair("qvec", vec_col), 6))
        .filter(~F.isnan("cosine_sim"))
        .select("query_id", F.col(id_col).alias("cand_id"), "cosine_sim")
    )
    return _ranked_topk(scored, k)


def persist_ivf_index(
    candidates: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Build the IVF index once and persist it PARTITIONED BY cell.

    This is the build half of the build/probe split a 100 TB ANN serving
    path needs: the corpus is signed into cells exactly once (two narrow
    argmax scans, see build_ivf_index), written as
    ``{path}/index/cell=<c>/...`` so every later probe is a partition-pruned
    read of ~n_probe/n_cells of the corpus, and ``{path}/centroids`` (a
    bounded ~sqrt(N)-row table) is what probes load to pick cells. Rebuilds
    are corpus-change events, not per-query work.

    ``meta_cols``: attribute columns from ``candidates`` carried into the
    index rows so :func:`ivf_probe_topk` can push a ``where`` predicate
    into the pruned scan (the filtered-ANN path; same contract as
    persist_ivfpq_index's meta_cols). They ride the assignment pass's
    Arrow batches (build_ivf_index ``keep``) — the former id-equi-join
    back to ``candidates`` re-shuffled the whole corpus, vectors
    included, to attach a few metadata bytes (r16 optimization,
    guide §2.4; row-identical by construction).
    """
    centroids, index = build_ivf_index(
        candidates, n_cells, id_col, vec_col, keep=meta_cols
    )
    # repartition by cell before the partitioned write: one file per cell
    # instead of (write-tasks × cells) shards. The build is the offline half,
    # so its one extra shuffle buys every probe a minimal file count — small
    # ragged files are pure per-task overhead on the serving path. (At real
    # scale you'd repartition(cells_per_file_target, "cell") to bound file
    # sizes; one file per cell is right for the test corpus.)
    # The two writes are independent (centroids is a driver-local bounded
    # relation, ready before the index pass starts) — overlap them so the
    # tiny centroids job back-fills the index write's tail (guide §2.6).
    from ..session import overlap_jobs

    overlap_jobs(
        candidates.sparkSession,
        lambda: centroids.write.mode("overwrite").parquet(
            os.path.join(path, "centroids")
        ),
        lambda: index.repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(os.path.join(path, "index")),
    )


# Process-level serving caches, keyed by (realpath, _SUCCESS mtime) so a
# rebuilt index invalidates them. Centroids are the in-memory half of an IVF
# serving deployment (a bounded ~sqrt(N)-row table pinned on every prober);
# the index DataFrame handle is cached because spark.read.parquet on a
# partitioned table re-lists every cell directory — at sqrt(N) cells that
# listing costs more than the probe itself, and it only changes on corpus
# rebuild. Re-paying either per query would be a serving anti-pattern.
_CENTROIDS_CACHE: dict[tuple[str, float], list] = {}
_INDEX_CACHE: dict[tuple[str, str, float], DataFrame] = {}


def _index_key(spark: SparkSession, subdir: str) -> tuple[str, str, float] | None:
    """Cache key, or None when the freshness marker is not driver-visible
    (an HDFS/S3 path the driver cannot stat): a constant key there would
    serve STALE centroids forever after a rebuild — bypass the cache and
    re-read instead (r8 review)."""
    marker = os.path.join(subdir, "_SUCCESS")
    if not os.path.exists(marker):
        return None
    mtime = os.path.getmtime(marker)
    return (spark.sparkContext.applicationId, os.path.realpath(subdir), mtime)


def load_cached_rows(spark: SparkSession, subdir: str, cache: dict) -> list:
    """Staleness-keyed bounded collect: keyed on (realpath, _SUCCESS mtime)
    so a rebuild invalidates, shared by every persisted-index consumer
    (centroids, PQ codebooks — review r12: parallel copies of this logic
    had to re-apply the r8 stale-cache fix in lockstep)."""
    full = _index_key(spark, subdir)
    if full is None:
        return spark.read.parquet(subdir).collect()
    key = full[1:]
    if key not in cache:
        cache[key] = spark.read.parquet(subdir).collect()
    return cache[key]


def load_cached_df(spark: SparkSession, subdir: str, cache: dict) -> DataFrame:
    """Staleness-keyed DataFrame handle: like load_cached_rows but keeps
    the applicationId in the key (a DataFrame is session-bound)."""
    key = _index_key(spark, subdir)
    if key is None:  # non-driver-visible store: no freshness signal, no cache
        return spark.read.parquet(subdir)
    if key not in cache:
        cache[key] = spark.read.parquet(subdir)
    return cache[key]


def _load_centroids(spark: SparkSession, path: str) -> list:
    return load_cached_rows(
        spark,
        os.path.join(resolve_index_root(path), "centroids"),
        _CENTROIDS_CACHE,
    )


# ---------------------------------------------------------------------------
# Versioned index roots + pointer commit (r14 verdict #5 / missing #3): the
# write-then-swap pointer discipline of streaming/sinks.py applied to the ANN
# store. Layout: ``{path}/v=N/{index,centroids,codebooks,_pq_meta.json,
# tombstones}`` with an atomically-replaced ``{path}/_CURRENT`` pointer
# file. Every probe/maintenance entry point resolves through
# ``resolve_index_root``; a path with no pointer keeps the original flat
# layout, so existing indexes serve unchanged.
# ---------------------------------------------------------------------------

_CURRENT_PTR = "_CURRENT"


def ann_index_current_version(path: str) -> int | None:
    """Version the pointer currently serves, or None for a flat-layout
    (or not-yet-built) index. A corrupt pointer raises — serving from a
    guessed version would be silent wrong-data."""
    try:
        with open(os.path.join(path, _CURRENT_PTR), encoding="utf-8") as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def resolve_index_root(path: str) -> str:
    """Directory the index artifacts live under: ``{path}/v=N`` when a
    version pointer exists, else ``path`` itself (flat legacy layout)."""
    v = ann_index_current_version(path)
    return path if v is None else os.path.join(path, f"v={v}")


def ann_index_begin_rebuild(path: str) -> tuple[str, int]:
    """Staging root for the next version — pass it as the ``path`` of
    ``persist_ivf_index`` / ``persist_ivfpq_index``, then make the result
    live with :func:`ann_index_commit_version`. A crashed prior staging
    of the same version is cleaned here; the SERVING version is never
    touched, so probes keep reading the old index throughout the rebuild
    (and forever, if the rebuild dies before commit). Single-writer
    contract, as everywhere in this store."""
    cur = ann_index_current_version(path)
    nxt = 1 if cur is None else cur + 1
    root = os.path.join(path, f"v={nxt}")
    shutil.rmtree(root, ignore_errors=True)  # crashed prior rebuild
    os.makedirs(root)
    return root, nxt


def ann_index_commit_version(path: str, version: int, keep: int = 1) -> str:
    """Atomically flip the pointer to ``version`` (write-aside +
    ``os.replace`` — a reader sees the old pointer or the new one, never
    a torn file). Refuses to flip to a staging root with no completed
    index write (``index/_SUCCESS``): a crashed rebuild must leave the
    OLD version serving. After the flip, versions older than the newest
    ``keep`` predecessors are deleted (the default keeps one, as a grace
    window for in-flight readers of the just-replaced version); the
    flat-legacy artifacts, if any, are left untouched. Returns the new
    serving root."""
    root = os.path.join(path, f"v={version}")
    if not os.path.exists(os.path.join(root, "index", "_SUCCESS")):
        raise ValueError(
            f"ann_index_commit_version: {root!r} has no completed index "
            f"write — refusing to serve a broken or unfinished rebuild"
        )
    tmp = os.path.join(path, _CURRENT_PTR + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, _CURRENT_PTR))
    for e in os.scandir(path):
        if e.name.startswith("v=") and e.is_dir():
            try:
                v = int(e.name[2:])
            except ValueError:
                continue
            if v < version - keep:
                shutil.rmtree(e.path, ignore_errors=True)
    return root


# ---------------------------------------------------------------------------
# Tombstone delete + cell-local vacuum — shared by BOTH persisted index
# layouts (raw IVF here and IVF-PQ in operators/pq.py: ``{path}/index``
# partitioned by cell). r13 verdict #5: after a dedup pass removes
# survivors' duplicates, the index must shrink WITHOUT a full rebuild.
# Tombstones are VERSION-SCOPED (they name rows of a concrete build), so
# they live under the resolved root and a rebuild naturally retires them.
# ---------------------------------------------------------------------------

_TOMBSTONE_CACHE: dict[tuple[str, str, float], DataFrame] = {}


def ann_index_delete(ids: DataFrame, path: str, id_col: str = "vec_id") -> int:
    """Tombstone-delete ids from a persisted index: append the batch to
    ``{path}/tombstones`` (a bounded parquet manifest every probe
    anti-joins) and return the number of distinct ids tombstoned. O(batch)
    — no index file is read or rewritten; physical removal is deferred to
    :func:`ann_index_vacuum`, which compacts only the touched cells.

    Single-writer contract, like ``ivfpq_index_append``: concurrent
    deletes, or a delete racing a vacuum/rebuild, are the caller's lock to
    take. Ids absent from the index are harmless (the anti-join and the
    vacuum both ignore them). Keep the manifest bounded by vacuuming on a
    schedule — probes broadcast it."""
    if id_col not in ids.columns:
        raise ValueError(
            f"ann_index_delete: batch has no {id_col!r} column "
            f"(columns: {ids.columns})"
        )
    batch = ids.select(id_col).distinct()
    n = batch.count()
    if n == 0:
        return 0
    # small manifest by construction: one file per delete batch
    batch.coalesce(1).write.mode("append").parquet(
        os.path.join(resolve_index_root(path), "tombstones")
    )
    return int(n)


def load_ann_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The current tombstone manifest, or None when the index has none.
    Staleness-keyed like every serving cache (a delete batch updates the
    manifest's _SUCCESS; a vacuum removes the directory)."""
    tomb_dir = os.path.join(resolve_index_root(path), "tombstones")
    if not os.path.exists(os.path.join(tomb_dir, "_SUCCESS")):
        return None
    return load_cached_df(spark, tomb_dir, _TOMBSTONE_CACHE)


def apply_ann_tombstones(
    index_rows: DataFrame, spark: SparkSession, path: str, id_col: str
) -> DataFrame:
    """Drop tombstoned rows from a (pruned) index scan — one broadcast
    anti-join on the id, applied ABOVE the partition-pruned read so the
    scan's pruning levers are untouched. No-op when no tombstones exist."""
    tomb = load_ann_tombstones(spark, path)
    if tomb is None:
        return index_rows
    return index_rows.join(
        F.broadcast(tomb.select(id_col).distinct()), id_col, "left_anti"
    )


def ann_index_recover(path: str) -> int:
    """Restore cells a crashed :func:`ann_index_vacuum` left mid-swap.

    The vacuum's per-cell swap is rename-only: the live ``cell=c`` dir is
    moved ASIDE (``{path}/_vacuum_aside/cell=c``) before the staged copy
    is installed, so at no instant is the only copy of a surviving row
    deleted. A crash between the two renames leaves the cell's rows in
    the aside dir; this entry point moves them back. For a cell whose
    swap DID complete (live dir present) the aside copy is stale and is
    discarded. Called automatically on vacuum entry; exported so an
    operator can restore serving without waiting for the next vacuum.
    Returns the number of cells restored. Single-writer contract.

    Safe ONLY while the tombstone manifest ordering below holds: the
    vacuum deletes the aside dir BEFORE clearing tombstones, so any
    aside this function can ever see coexists with the tombstones that
    masked its dead rows — restoring a fully-tombstoned (dropped) cell
    re-exposes rows the manifest still hides, and the retry re-drops
    them. Clearing tombstones first would let a restore resurrect
    deleted rows."""
    root = resolve_index_root(path)
    idx_dir = os.path.join(root, "index")
    aside = os.path.join(root, "_vacuum_aside")
    if not os.path.isdir(aside):
        return 0
    restored = 0
    for e in sorted(os.scandir(aside), key=lambda e: e.name):
        if not e.name.startswith("cell="):
            continue
        dst = os.path.join(idx_dir, e.name)
        if os.path.isdir(dst):
            # swap completed for this cell; the aside copy is stale
            shutil.rmtree(e.path)
        else:
            os.replace(e.path, dst)
            restored += 1
    shutil.rmtree(aside, ignore_errors=True)
    return restored


def ann_index_vacuum(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> dict:
    """Physically compact tombstoned rows out of the index: CELL-LOCAL
    rewrite of only the touched partitions, then clear the manifest.
    Untouched cell directories are never read-for-write, staged, or
    renamed — receipt pinned by tests (file identity compared before and
    after). Returns ``{"cells_rewritten", "cells_dropped",
    "rows_removed"}``; a fully-emptied cell's directory is dropped.

    Crash-safe via rename-aside: survivors are staged OUTSIDE the index, then per
    touched cell the live dir is renamed aside and the staged dir renamed
    in — two atomic renames, never an unlink of the only copy. A crash at
    ANY point loses nothing: entry runs :func:`ann_index_recover` (which
    restores any cell still aside), and tombstones are cleared only after
    the asides are gone, so a restored all-dead cell stays masked and is
    re-dropped on retry. The stage dir is always disposable — survivors
    are recomputable from live+aside state.

    The index ``_SUCCESS`` marker is re-touched so every staleness-keyed
    serving cache (index handle, centroids, codebooks) re-reads after the
    compaction. Single-writer contract: a probe racing the swap window
    may transiently miss an aside cell's rows until recovery runs."""
    root = resolve_index_root(path)
    idx_dir = os.path.join(root, "index")
    tomb_dir = os.path.join(root, "tombstones")
    aside = os.path.join(root, "_vacuum_aside")
    ann_index_recover(path)  # heal a crashed prior attempt BEFORE reading
    out = {"cells_rewritten": 0, "cells_dropped": 0, "rows_removed": 0}
    if not os.path.exists(os.path.join(tomb_dir, "_SUCCESS")):
        return out
    tomb = spark.read.parquet(tomb_dir).select(id_col).distinct()
    index = spark.read.parquet(idx_dir)
    dead_by_cell = (
        index.join(F.broadcast(tomb), id_col, "left_semi")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_dead"))
        .collect()  # bounded by n_cells
    )
    if not dead_by_cell:
        shutil.rmtree(tomb_dir, ignore_errors=True)
        return out
    touched = sorted(int(r["cell"]) for r in dead_by_cell)
    out["rows_removed"] = int(sum(r["n_dead"] for r in dead_by_cell))
    survivors = index.filter(F.col("cell").isin(touched)).join(
        F.broadcast(tomb), id_col, "left_anti"
    )
    stage = os.path.join(root, "_vacuum_stage")
    shutil.rmtree(stage, ignore_errors=True)  # crashed prior attempt
    try:
        survivors.repartition("cell").write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(stage)
        os.makedirs(aside, exist_ok=True)
        for c in touched:
            src = os.path.join(stage, f"cell={c}")
            dst = os.path.join(idx_dir, f"cell={c}")
            if os.path.isdir(dst):
                # atomic aside, NOT an unlink: the live rows survive any
                # failure of the install rename below
                os.replace(dst, os.path.join(aside, f"cell={c}"))
            if os.path.isdir(src):
                os.replace(src, dst)
                out["cells_rewritten"] += 1
            else:  # every row of the cell was tombstoned
                out["cells_dropped"] += 1
    finally:
        # disposable at every crash point: a cell's rows are either live
        # (untouched or newly installed) or in the aside dir, which
        # ann_index_recover restores on the next entry
        shutil.rmtree(stage, ignore_errors=True)
    # ORDER CONTRACT (see ann_index_recover): asides go first, tombstones
    # last, so a crash in between leaves a state where recovery can never
    # resurrect rows the manifest no longer masks.
    shutil.rmtree(aside, ignore_errors=True)
    marker = os.path.join(idx_dir, "_SUCCESS")
    if os.path.exists(marker):
        os.utime(marker)  # invalidate staleness-keyed serving caches
    shutil.rmtree(tomb_dir, ignore_errors=True)
    return out


def _load_index(spark: SparkSession, path: str) -> DataFrame:
    return load_cached_df(
        spark, os.path.join(resolve_index_root(path), "index"), _INDEX_CACHE
    )


def _plan_probes(
    cent_rows: list, qmat: np.ndarray, n_probe: int, index_desc: str
) -> tuple[list[int], dict[int, np.ndarray]]:
    """The driver half of an IVF probe: (sorted union of probed cells,
    {cell: bool mask of the queries that probed it}). Each query probes
    its ``n_probe`` max-cosine cells — a tiny (queries × cells) matmul."""
    cell_ids, cunit = _unit_centroids(cent_rows)
    if qmat.shape[1] != cunit.shape[1]:
        raise ValueError(
            f"{index_desc} was built for dim {cunit.shape[1]}; "
            f"queries have dim {qmat.shape[1]}"
        )
    sims = _unit_rows(qmat) @ cunit.T  # (nq, n_cells)
    # lexsort (last key primary): order by -sim, ties by LOWEST cell id —
    # plain argsort resolved ties by the index parquet's arbitrary collect
    # order, diverging from ivf_topk's F.asc("cell") tie-break (r8 review)
    order = np.lexsort(
        (np.broadcast_to(cell_ids, sims.shape), -sims), axis=1
    )[:, : min(n_probe, len(cell_ids))]
    probed = cell_ids[order]  # (nq, n_probe) cell ids per query
    cells = sorted({int(c) for c in probed.ravel()})
    # a dict, not a positional array: cell ids need not be dense
    return cells, {c: (probed == c).any(axis=1) for c in cells}


def _probe_scan(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    cells: list[int],
    id_col: str,
    where: str | None,
    kind: str,
    payload: str,
) -> DataFrame:
    """The read half of an IVF probe over a persisted ``kind`` index
    ("ivf" or "ivfpq"): only the probed cells, minus tombstones, filtered
    by ``where``, coalesced to ~32 MB of probed bytes per task.
    ``payload`` is the scored column (vectors or codes), which ``where``
    may not reference."""
    pruned = index.filter(F.col("cell").isin(cells))  # static partition pruning
    pruned = apply_ann_tombstones(pruned, spark, path, id_col)
    if where is not None:
        try:
            pruned = pruned.filter(F.expr(where))
            pruned.schema  # force analysis now for the clear error below
        except Exception as e:
            # Filterable set per the documented contract: id_col, cell, and
            # the recorded meta columns — NOT the payload column, even
            # though it is physically present (ADVICE r13: the message must
            # match the contract, not the storage layout).
            filterable = sorted(set(index.columns) - {payload})
            raise ValueError(
                f"{kind}_probe_topk: predicate {where!r} failed to resolve "
                f"against the index's filterable columns {filterable} — "
                f"rebuild with persist_{kind}_index(meta_cols=...) to carry "
                f"the attributes the filter needs"
            ) from e
    # Arrow batch sizing: Spark splits the pruned scan to reach default
    # parallelism, which at test scale hands mapInPandas dozens of tiny
    # batches whose per-batch worker roundtrip dwarfs the scoring (the
    # code scan of an IVF-PQ index is tinier still, 16 bytes/vec). When the
    # index is on a local filesystem, coalesce to ~32 MB of probed bytes per
    # task (coalesce never raises parallelism, so a larger target is a
    # no-op); on cluster stores the listing is skipped and the scan's
    # natural parallelism stands — there each cell is many full-size files
    # and batches are already wide. The listing goes through the version
    # pointer, like the read itself.
    idx_dir = os.path.join(resolve_index_root(path), "index")
    if os.path.isdir(idx_dir):
        probed_bytes = 0
        for c in cells:
            cdir = os.path.join(idx_dir, f"cell={c}")
            if os.path.isdir(cdir):
                with os.scandir(cdir) as it:
                    probed_bytes += sum(e.stat().st_size for e in it if e.is_file())
        pruned = pruned.coalesce(max(1, -(-probed_bytes // (32 << 20))))
    return pruned


def ivf_probe_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
    where: str | None = None,
) -> DataFrame:
    """Probe-only top-k against a ``persist_ivf_index`` output.

    Centroids (bounded by construction) and the query batch (guarded like
    brute_force_topk) collect to the driver; the per-query nearest
    ``n_probe`` cells are a tiny driver-side matmul. The union of probed
    cells becomes a LITERAL ``cell IN (...)`` predicate on the partition
    column — static partition pruning at the parquet scan, plan-asserted in
    tests/test_plans.py — so the scan reads only the probed fraction of the
    corpus. Scoring is then the same narrow Arrow matmul shape as
    brute_force_topk (zero join, zero shuffle before the final rank), with a
    per-(query, cell) mask so a candidate only scores against queries that
    probed its cell. Strictly less work than the exact path: same kernel,
    ~n_probe/n_cells of the reads and FLOPs.

    ``where``: a SQL predicate over the index's metadata columns (built
    with ``meta_cols``) and/or ``id_col``/``cell``, applied to the pruned
    scan BEFORE scoring — the filtered-ANN path, same contract as
    ivfpq_probe_topk's ``where`` (pushed to the parquet read; top-k exact
    over surviving candidates).
    """
    cent_rows = _load_centroids(spark, path)
    qids, qmat = _collect_queries(
        queries, id_col, vec_col, max_queries, "ivf_probe_topk"
    )
    index = _load_index(spark, path)
    id_schema = index.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_schema}, cand_id {id_schema}, cosine_sim double"
    if not cent_rows or not qids.size:
        return spark.createDataFrame([], out_schema + ", rank int")

    cells, cell_mask = _plan_probes(cent_rows, qmat, n_probe, f"ivf index at {path!r}")
    sims = _exact_sims(qmat, vec_col)

    def score(batches):
        yield from _emit_pairs(batches, qids, id_col, sims, cell_mask)

    pruned = _probe_scan(spark, path, index, cells, id_col, where, "ivf", vec_col)
    scored = pruned.select(
        F.col(id_col), F.col(vec_col), F.col("cell")
    ).mapInPandas(score, out_schema)
    return _ranked_topk(scored, k)


def _sign_sketch_udf(n_planes: int, n_tables: int, dim: int):
    """Vectorized sign-sketch: array<float> → array<long> of bucket ids.

    One numpy matmul per Arrow batch ((batch × dim) @ (dim × planes)) — the
    deep per-row SQL expression alternative falls out of codegen and runs
    ~100× slower. Planes are a fixed seeded RandomState matrix: deterministic
    across runs/executors, broadcast-free (regenerated per worker, ~2 KB).
    """
    from pyspark.sql.functions import pandas_udf

    total = n_planes * n_tables
    planes = np.random.RandomState(42).standard_normal((dim, total))
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def sketch(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (m @ planes) > 0  # (batch, tables*planes)
        buckets = bits.reshape(len(m), n_tables, n_planes) @ weights
        return pd.Series(list(buckets))

    return sketch


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 16,
    dim: int = 64,
    max_broadcast_queries: int = 8192,
) -> DataFrame:
    """Approximate top-k: random-hyperplane (sign) LSH prefilter, then exact
    cosine within buckets.

    ``n_tables`` independent ``n_planes``-bit sign sketches; a candidate is
    considered if it matches the query's bucket in ANY table. Sketching is a
    vectorized pandas UDF (Arrow batches, one matmul per batch); candidate
    scoring and ranking stay JVM-side.

    Parameter regime: per-plane agreement for angle θ is p = 1-θ/π, so recall
    for a true neighbor ≈ 1-(1-p^planes)^tables and the random-pair candidate
    fraction ≈ 1-(1-0.5^planes)^tables. The 10×16 default targets the
    NEAR-DUP regime this operator is mandated for (cos ≥ 0.8 → p ≥ 0.795 →
    recall ≥ 0.82, rising to 0.97 at cos 0.9) while keeping buckets selective
    (random-pair candidate fraction ≈ 1.6%; measured 2.3% on the test corpus
    — the old 4-plane default admitted ~40%, r5 SCALE_PROBE sweep). LOWER
    ``n_planes`` for mid-similarity retrieval (cos 0.3-0.5): 3×16 measures
    0.98 recall@5 on the test corpus at ~40% candidate fraction — at that
    similarity floor sign-LSH cannot be both selective and high-recall, and
    the exact path usually wins (documented crossover in SCALE_PROBE.md).
    """
    _guard_broadcast_queries(queries, max_broadcast_queries, "lsh_bucketed_topk")
    sketch = _sign_sketch_udf(n_planes, n_tables, dim)
    # posexplode_OUTER, not posexplode (r16, guide §4.4 duplication): the
    # plain generator makes Catalyst infer a size(buckets)>0 non-empty
    # filter BELOW the Generate, and a filter on a UDF column evaluates
    # the sketch UDF twice per row (once under the Filter, once for the
    # Project — two stacked ArrowEvalPython nodes per side in the before
    # plan). The outer variant emits one null row for an empty/null array
    # instead; null bucket keys never survive the inner equi-join below,
    # so the pair set is identical. Same fix minhash_band_index carries.
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("buckets", sketch(F.col("qvec")))
        .select(
            "query_id", "qvec",
            F.posexplode_outer("buckets").alias("table_idx", "bucket"),
        )
    )
    c = (
        candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"))
        .withColumn("buckets", sketch(F.col("cvec")))
        .select(
            "cand_id", "cvec",
            F.posexplode_outer("buckets").alias("table_idx", "bucket"),
        )
    )
    # Score BEFORE deduplicating multi-table hits: the redundant cosines
    # (bounded by n_tables, typically 1-2 per pair) are vectorized-cheap,
    # while deduplicating first would push every surviving pair's TWO
    # 64-float vectors through the dedup shuffle (~1 KB/row vs 24 B/row for
    # (id, id, sim) triples). Shuffle bytes, not FLOPs, are the scarce
    # resource at 100 TB. first() is deterministic here: duplicate rows
    # carry identical sims by construction.
    cand_pairs = c.join(F.broadcast(q), ["table_idx", "bucket"]).filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = (
        cand_pairs.withColumn(
            "cosine_sim", F.round(_cosine_pairs_udf()("qvec", "cvec"), 6)
        )
        .filter(~F.isnan("cosine_sim"))
        .groupBy("query_id", "cand_id")
        .agg(F.first("cosine_sim").alias("cosine_sim"))
    )
    return _ranked_topk(scored, k)
