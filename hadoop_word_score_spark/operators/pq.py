"""Product quantization (IVF-PQ) — compressed ANN over an embedding column.

The r11 verdict's #2 next-surface: at 100 TB the standard ANN index stores
PQ codes, not raw vectors (Jégou, Douze & Schmid 2011, "Product
quantization for nearest neighbor search"). Each d-dim vector is split
into ``m`` subvectors; each subspace gets its own ``k``-codeword codebook
(k-means); a vector is stored as m small integers. Search scores probes
with ASYMMETRIC DISTANCE (ADC): the query stays exact, each candidate is
its reconstruction, and per query the m×k table of subspace dot products
is precomputed once so scoring a candidate is m table lookups — no
per-candidate float vector is ever read.

Scale shape of each phase:

  train    codebooks train with Lloyd iterations over ALL subspaces fused
           into one corpus scan per iteration: a mapInPandas pass emits
           per-batch PARTIAL sums keyed by (subspace, codeword, dim) — the
           shuffle is m·k·(d/m) = d·k rows of 3 numbers per partition,
           never corpus-sized (same partial-aggregation story as
           clustering.py's update pass, generalized to m codebooks at
           once; per-subspace kmeans_fit calls would pay m separate corpus
           scans per iteration). Driver state is the (m, k, d/m) codebook
           tensor — bounded by construction. Codebook coordinates are
           rounded to ``decimals`` so shuffle summation order cannot make
           two runs disagree (kmeans_fit's determinism rationale).
  encode   one narrow mapInPandas argmin pass; codes are m ints per vector
           (m bytes at k<=256 on a real store vs 4·d raw — 16x smaller at
           the defaults here; receipt in SCALE_PROBE.md).
  probe    coarse IVF cells prune the scan (static partition pruning, same
           layout as similarity.py's raw-vector index), then ADC scores
           the probed codes: the scan reads only (id, cell, pq_code) — no
           vector column exists in the index at all.
  rerank   optional exact top-k over the ADC shortlist (IVFADC+R): the
           shortlist is n_queries × shortlist ids, equi-joined back to the
           RAW corpus for true cosines. At serving scale that join wants
           the raw table bucketed by id (or a point-lookup store); here it
           is one id-join against the embeddings table.

Codebooks quantize the RAW vectors (not cell residuals). Residual PQ
(quantize x - coarse_centroid, the FAISS default) was MEASURED before
being rejected, not skipped: on this corpus it buys nothing — ADC-only
natural recall@5 is 0.56 plain vs 0.56 residual (reconstruction MSE
0.0035 vs 0.0030) because the coarse cells capture too little of the
vectors' variance for the residual to be easier to quantize, while ADC
would grow a per-(cell, subspace, codeword) cross-term table and a
per-cell norm correction. The recall lever that DOES pay here is the
rerank stage: 0.26 ADC-only -> 0.86+ with the exact rerank of the ADC
shortlist (m=16, k=32; the 0.26 runs through the full probe path with
rounding and cell pruning, the 0.56 above is the unpruned yardstick).
Revisit residuals if a future corpus shows strong cluster structure
(coarse-assignment cosines near 1).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from .similarity import (
    _as_matrix, _collect_queries, _emit_pairs, _load_centroids, _load_index,
    _lloyd_partials, _nearest_cell, _plan_probes, _pq_codes, _probe_scan,
    _ranked_topk, _rounded_cosine, _row_norms, _unit_centroids, _unit_rows,
    build_ivf_index, load_cached_rows, resolve_index_root,
)

_CODEBOOK_CACHE: dict[tuple[str, float], list] = {}


def _subspace_shape(dim: int, m: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"pq: m={m} must divide the embedding dim {dim} evenly"
        )
    return dim // m


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    k: int = 32,
    iterations: int = 2,
    decimals: int = 6,
    train_ppm: int | None = None,
) -> np.ndarray:
    """Train the (m, k, d/m) codebook tensor; returns it as float64 ndarray.

    Seeding is deterministic — the k lowest-id vectors' subvectors seed
    every subspace (the kmeans_fit/build_ivf_index policy: data-dependent,
    reproducible, never collapses to the global mean). Each Lloyd iteration
    is ONE corpus scan for all m subspaces; an emptied codeword keeps its
    previous centroid.

    ``train_ppm``: deterministic hash-mod sample rate (parts per million)
    for the TRAINING scans only — at corpus scale codebooks are trained on
    a sample (the standard IVF-PQ practice: k-means over ~1e5-1e6 vectors
    saturates codebook quality regardless of corpus size) while ENCODING
    always covers every vector. None trains on the full corpus. The sample
    is keyed on ``id_col`` (xxhash64 mod 1e6), so it is reproducible and
    disjoint sampling decisions never depend on partitioning.
    """
    train = df
    if train_ppm is not None:
        if not 0 < train_ppm <= 1_000_000:
            raise ValueError(
                f"pq_train: train_ppm must be in (0, 1e6], got {train_ppm}"
            )
        train = df.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(1_000_000))
            < F.lit(train_ppm)
        )
    seed_rows = (
        train.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )  # bounded: k rows
    if not seed_rows:
        raise ValueError("pq_train: empty corpus (fail fast beats NaNs)")
    dim = len(seed_rows[0][1])
    dsub = _subspace_shape(dim, m)
    seeds = np.array([r[1] for r in seed_rows], dtype=np.float64)
    if len(seeds) < k:  # tiny corpus: pad by repeating (still deterministic)
        seeds = np.vstack([seeds] * (-(-k // len(seeds))))[:k]
    books = seeds.reshape(k, m, dsub).transpose(1, 0, 2).copy()  # (m, k, dsub)

    out_schema = "m int, code int, pos int, s double, cnt long"
    for _ in range(iterations):
        closure_books = books  # rebind per iteration for the task closure

        def partials(batches, _books=closure_books):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vm = _as_matrix(pdf["v"])
                codes = _pq_codes(vm, _books)
                sub = vm.reshape(len(vm), m, dsub)
                yield pd.concat(
                    [_lloyd_partials(sub[:, mm, :], codes[:, mm], "code")
                     .assign(m=mm) for mm in range(m)],
                    ignore_index=True,
                )

        upd = (
            train.select(F.col(vec_col).alias("v"))
            .mapInPandas(partials, out_schema)
            .groupBy("m", "code", "pos")  # m*k*dsub = d*k keys, map-combined
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )  # bounded: d*k rows
        nxt = books.copy()
        for r in upd:
            nxt[r.m, r.code, r.pos] = round(r.s / r.n, decimals)
        books = nxt
    return books


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
    coarse: tuple[np.ndarray, np.ndarray] | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """(id_col, *keep, pq_code array<int>) — one narrow argmin pass; the
    vector column is consumed and DROPPED (the compression is the point).

    ``coarse``: optional (cell_ids, unit-centroid matrix). When given (and
    ``cell_col`` is in ``keep``), the SAME pass also emits ``_coarse_sim``
    — each vector's cosine to its assigned coarse centroid, rounded 6 like
    every served similarity. Because assignment is cosine argmax over the
    same centroids, this equals the max-sim the training envelope needs,
    so the index build gets worst_coarse_sim without a second corpus scan
    (review r12)."""
    id_schema = df.schema[id_col].dataType.simpleString()
    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep
    )
    out_schema = f"{id_col} {id_schema}{keep_schema}, pq_code array<int>"
    if coarse is not None:
        if cell_col not in keep:
            raise ValueError(
                f"pq_encode: coarse sims need {cell_col!r} in keep"
            )
        out_schema += ", _coarse_sim double"
        coarse_ids, coarse_unit = coarse
        # cell ids need not be dense: map id -> matrix row
        cell_row = {int(c): i for i, c in enumerate(coarse_ids)}

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                out = {id_col: pdf[id_col],
                       **{c: pdf[c] for c in keep},
                       "pq_code": pd.Series(dtype="object")}
                if coarse is not None:
                    out["_coarse_sim"] = pd.Series(dtype="float64")
                yield pd.DataFrame(out)
                continue
            vm = _as_matrix(pdf[vec_col])
            out = {id_col: pdf[id_col],
                   **{c: pdf[c] for c in keep},
                   "pq_code": list(_pq_codes(vm, books))}
            if coarse is not None:
                rows = np.fromiter(
                    (cell_row[int(c)] for c in pdf[cell_col]),
                    dtype=np.int64,
                    count=len(pdf),
                )
                sims = (_unit_rows(vm) * coarse_unit[rows]).sum(axis=1)
                out["_coarse_sim"] = np.round(sims, 6)
            yield pd.DataFrame(out)

    return df.select(id_col, *keep, vec_col).mapInPandas(encode, out_schema)


def persist_ivfpq_index(
    candidates: DataFrame,
    path: str,
    n_cells: int = 32,
    m: int = 16,
    k: int = 32,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_ppm: int | None = None,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Build and persist the compressed index: ``{path}/index`` holds ONLY
    (id, pq_code) partitioned by coarse cell — no raw vectors anywhere in
    it; ``{path}/centroids`` the coarse quantizer; ``{path}/codebooks``
    the (m, code, centroid) relation; ``{path}/_pq_meta.json`` the shape
    contract a probe validates before trusting the code layout (the same
    refuse-loudly policy as the bucketed sink's n_buckets guard).

    ``meta_cols``: attribute columns from ``candidates`` carried into the
    index rows (r12 verdict #4 — production similarity search is usually
    predicate-filtered, "top-k within lang='en'"). They ride the same
    partitioned code files, so a filtered probe pushes its predicate into
    the pruned parquet scan BEFORE any ADC work — no over-fetch heuristics;
    the top-k is exact over the surviving candidates. Cost: a few bytes per
    row next to the 16-byte code (still no vector column) riding the
    assignment pass's Arrow batches — no extra join or shuffle."""
    # meta cols ride the assignment pass's Arrow batches (build_ivf_index
    # ``keep``) — the former id-equi-join back to ``candidates``
    # re-shuffled the whole corpus, vectors included, to attach a few
    # metadata bytes (r16 optimization, guide §2.4; row-identical).
    #
    # The coarse-quantizer build and the PQ codebook training are
    # INDEPENDENT computations over the same corpus (codebooks quantize
    # raw vectors, not cell residuals — module docstring), so their jobs
    # overlap from a driver thread (guide §2.6: a later job's tasks
    # back-fill executors freed by the earlier job's stragglers; each
    # driver collect is idle network wait the other job can use).
    # overlap_jobs propagates the JVM thread-locals (job group/description)
    # when the pinned-thread gateway allows it and surfaces a background
    # failure even when the foreground one raises (ADVICE r16). Results are
    # unchanged: both halves are deterministic and share no state.
    from ..session import overlap_jobs

    (centroids, index), books = overlap_jobs(
        candidates.sparkSession,
        lambda: pq_train(
            candidates, id_col, vec_col, m, k, iterations,
            train_ppm=train_ppm,
        ),
        lambda: build_ivf_index(
            candidates, n_cells, id_col, vec_col, keep=meta_cols
        ),
    )
    cent_rows = centroids.collect()  # bounded: n_cells rows
    coarse = _unit_centroids(cent_rows) if cent_rows else None
    # ONE encode pass feeds both the index write and the training-time
    # coarse envelope (review r12: the previous dedicated worst-sim pass
    # re-scanned the whole corpus for one scalar): the envelope is an
    # observe() metric of the index write itself, so the corpus-sized
    # codes are neither pinned nor aggregated by a second job.
    codes = pq_encode(
        index, books, id_col, vec_col,
        keep=("cell", *meta_cols), coarse=coarse,
    )

    def _write_index():
        envelope = Observation()
        codes.observe(envelope, F.min("_coarse_sim").alias("worst")).drop(
            "_coarse_sim"
        ).repartition("cell").write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(os.path.join(path, "index"))
        return envelope.get["worst"]

    # centroids is a driver-local bounded relation, ready before the
    # encode pass — its write overlaps the corpus-sized index write so the
    # tiny job back-fills the big one's tail (guide §2.6).
    worst, _ = overlap_jobs(
        candidates.sparkSession,
        lambda: centroids.write.mode("overwrite").parquet(
            os.path.join(path, "centroids")
        ),
        _write_index,
    )
    spark = candidates.sparkSession
    # Arrow (pandas) route, not a plain row list: a list-backed local
    # relation of nested arrays serializes through the Python-RDD scan on
    # write (~4.5s measured for these 512 rows); the Arrow batch writes in
    # ~0.2s. Same rows either way.
    book_pdf = pd.DataFrame(
        {"m": np.repeat(np.arange(m), k).astype("int32"),
         "code": np.tile(np.arange(k), m).astype("int32"),
         "centroid": [list(map(float, books[mm, code]))
                      for mm in range(m) for code in range(k)]}
    )
    spark.createDataFrame(book_pdf).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codebooks"))
    # the training-time coarse envelope (worst cosine any indexed vector
    # has to its assigned centroid) was computed on the shared encode pass
    # above — per-row ROUND(6) commutes with MIN (round is monotone), so
    # the value matches the old dedicated pass exactly.
    with open(os.path.join(path, "_pq_meta.json"), "w", encoding="utf-8") as f:
        json.dump(
            {"m": m, "k": k, "n_cells": n_cells,
             "dim": int(m * books.shape[2]),
             **({"meta_cols": list(meta_cols),
                 "meta_types": {
                     c: candidates.schema[c].dataType.simpleString()
                     for c in meta_cols
                 }} if meta_cols else {}),
             **({"worst_coarse_sim": worst} if worst is not None else {})},
            f,
        )


def ivfpq_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_coarse_drift: float | None = None,
) -> int:
    """Incrementally index NEW vectors into a persisted IVF-PQ index —
    the arrival-time maintenance path (same production need as the dedup
    band index's ``incremental_lsh_pairs``): only the new batch is
    assigned and encoded, under the EXISTING coarse centroids and
    codebooks; nothing already written is read back or rewritten. Returns
    the number of vectors appended.

    Quantizer drift is the correctness hazard of append-only ANN
    maintenance: centroids/codebooks were trained on the corpus as of the
    last rebuild, so a distribution shift degrades new vectors' cells and
    codes silently. ``max_coarse_drift`` guards it: if more than that
    fraction of the batch lands further from its nearest coarse centroid
    (cosine) than ANY training-time assignment had to (tracked as
    ``worst_coarse_sim`` in the meta), the append refuses and asks for a
    rebuild — refuse-loudly, like the bucket-count and shape guards.

    Single-writer contract (the upsert-sink rule): appends are parquet
    file additions inside the existing ``cell=<c>`` directories plus a
    meta bump; concurrent appends or an append racing a rebuild are the
    caller's lock to take. Unlike the foreachBatch sinks this is a direct
    operator with NO batch-id replay guard — re-delivering the same batch
    indexes its vectors twice (they then occupy two shortlist slots each).
    Wrap it in a replay-guarded sink (the dedup-ingest pattern) when the
    source can redeliver, or rebuild-from-scratch for idempotent jobs
    (what the registry query does).
    """
    spark = new_vectors.sparkSession
    root = resolve_index_root(path)
    with open(os.path.join(root, "_pq_meta.json"), encoding="utf-8") as f:
        meta = json.load(f)
    books = _load_codebooks(spark, path)
    cent_rows = _load_centroids(spark, path)
    first = new_vectors.select(vec_col).limit(1).collect()
    if not first:
        return 0
    if len(first[0][0]) != meta["dim"]:
        raise ValueError(
            f"ivfpq index at {path!r} was built for dim {meta['dim']}; "
            f"new vectors have dim {len(first[0][0])}"
        )
    cell_ids, cunit = _unit_centroids(cent_rows)
    id_schema = new_vectors.schema[id_col].dataType.simpleString()
    # an index built with metadata columns requires every append to supply
    # them — appended rows missing an attribute would silently vanish from
    # every filtered probe on it (refuse-loudly, like the dim guard)
    meta_cols = tuple(meta.get("meta_cols", ()))
    missing = [c for c in meta_cols if c not in new_vectors.columns]
    if missing:
        raise ValueError(
            f"ivfpq_index_append: index at {path!r} carries metadata "
            f"columns {list(meta_cols)}; the new batch lacks {missing}"
        )
    # type parity too, not just presence: appending a batch whose meta
    # column has a different parquet type writes mixed-dtype files into the
    # same cell directories, and the NEXT probe's read fails (or binds the
    # wrong schema) far from the cause (r13 review — same refuse-loudly
    # class as the dim guard below)
    for c, want in meta.get("meta_types", {}).items():
        got = new_vectors.schema[c].dataType.simpleString()
        if got != want:
            raise ValueError(
                f"ivfpq_index_append: index at {path!r} stores metadata "
                f"column {c!r} as {want}; the new batch supplies {got} — "
                f"cast it to match (mixed-type cell files break later reads)"
            )
    meta_schema = "".join(
        f", {c} {new_vectors.schema[c].dataType.simpleString()}"
        for c in meta_cols
    )

    def assign_encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = _as_matrix(pdf[vec_col])
            best, best_sim = _nearest_cell(vm, cunit)
            yield pd.DataFrame(
                {id_col: pdf[id_col],
                 **{c: pdf[c] for c in meta_cols},
                 "cell": cell_ids[best].astype("int32"),
                 "pq_code": list(_pq_codes(vm, books)),
                 "_coarse_sim": np.round(best_sim, 6)}
            )

    encoded = new_vectors.select(id_col, *meta_cols, vec_col).mapInPandas(
        assign_encode,
        f"{id_col} {id_schema}{meta_schema}, cell int, pq_code array<int>, "
        f"_coarse_sim double",
    ).localCheckpoint()  # batch-sized: two consumers (drift agg + write)
    stats = encoded.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_coarse_sim").alias("worst"),
        F.avg(
            (F.col("_coarse_sim") < F.lit(meta.get("worst_coarse_sim", -1.0)))
            .cast("double")
        ).alias("drift_frac"),
    ).collect()[0]
    if (
        max_coarse_drift is not None
        and "worst_coarse_sim" in meta
        and stats.drift_frac is not None
        and stats.drift_frac > max_coarse_drift
    ):
        raise ValueError(
            f"ivfpq_index_append: {stats.drift_frac:.1%} of the batch falls "
            f"outside the training-time coarse envelope "
            f"(worst_coarse_sim={meta['worst_coarse_sim']}) — the quantizer "
            f"has drifted; rebuild the index with persist_ivfpq_index"
        )
    encoded.drop("_coarse_sim").repartition("cell").write.partitionBy(
        "cell"
    ).mode("append").parquet(os.path.join(root, "index"))
    meta["appended"] = int(meta.get("appended", 0)) + int(stats.n)
    # worst_coarse_sim is the TRAINING-time envelope and stays frozen
    # (review r12): updating it with each accepted batch's minimum would
    # ratchet the guard monotonically looser — after one borderline batch
    # slips under max_coarse_drift, a fully drifted next batch would
    # compare against the loosened floor and pass. Appends never move it;
    # only persist_ivfpq_index (a rebuild) re-derives it.
    with open(os.path.join(root, "_pq_meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    return int(stats.n)


def _load_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    rows = load_cached_rows(  # bounded: m*k rows
        spark, os.path.join(resolve_index_root(path), "codebooks"),
        _CODEBOOK_CACHE
    )
    m = 1 + max(r["m"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["centroid"])
    books = np.zeros((m, k, dsub))
    for r in rows:
        books[r["m"], r["code"]] = r["centroid"]
    return books


def ivfpq_probe_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 8,
    shortlist: int | None = None,
    rerank_against: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
    where: str | None = None,
) -> DataFrame:
    """ADC top-k against a :func:`persist_ivfpq_index` output; with
    ``rerank_against`` (the raw corpus), IVFADC+R: the ADC ``shortlist``
    (default 10·k) per query is re-scored with exact cosine and re-ranked.

    Per query the work is: n_probe/n_cells of the CODE table read
    (partition-pruned scan — 16x fewer bytes than the raw-vector index at
    the defaults), one m×k LUT matmul at the driver, and m gathers per
    candidate batch. Returns (query_id, cand_id, cosine_sim, rank) —
    ``cosine_sim`` is the ADC estimate, or the exact value after rerank.

    ``where``: a SQL predicate over the index's metadata columns (built
    with ``meta_cols``) and/or ``id_col``/``cell`` — the filtered-ANN path
    ("top-k within lang='en'"). It is applied to the PRUNED CODE SCAN,
    before any ADC scoring, so Catalyst pushes it into the parquet read and
    the returned top-k is exact over the surviving candidates (no
    over-fetch-and-hope; a post-shortlist filter can silently under-fill
    k). Referencing a column the index does not carry fails analysis with
    the missing-column error, plus the guard below names the fix."""
    root = resolve_index_root(path)
    meta_path = os.path.join(root, "_pq_meta.json")
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    books = _load_codebooks(spark, path)
    m, kcodes, dsub = books.shape
    if (m, kcodes) != (meta["m"], meta["k"]):
        raise ValueError(
            f"ivfpq index at {path!r}: codebooks are {m}x{kcodes} but meta "
            f"says {meta['m']}x{meta['k']} — rebuild the index"
        )
    cent_rows = _load_centroids(spark, path)
    qids, qmat = _collect_queries(
        queries, id_col, vec_col, max_queries, "ivfpq_probe_topk"
    )
    index = _load_index(spark, path)
    id_schema = index.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {id_schema}, cand_id {id_schema}, cosine_sim double"
    )
    if not cent_rows or not qids.size:
        return spark.createDataFrame([], out_schema + ", rank int")

    cells, cell_mask = _plan_probes(
        cent_rows, qmat, n_probe, f"ivfpq index at {path!r}"
    )
    # the per-query ADC tables, computed ONCE: dot LUT (nq, m, kcodes) and
    # the per-codeword squared-norm table for |reconstruction|
    qsub = qmat.reshape(len(qmat), m, dsub)
    lut = np.einsum("qmd,mkd->qmk", qsub, books)
    n2 = (books * books).sum(-1)  # (m, kcodes)
    qnorm = _row_norms(qmat)

    def adc(pdf):
        codes = np.array(list(pdf["pq_code"]), dtype=np.int64)  # (nc, m)
        dots = np.zeros((len(qids), len(codes)))
        rn2 = np.zeros(len(codes))
        for mm in range(m):
            dots += lut[:, mm, :][:, codes[:, mm]]
            rn2 += n2[mm, codes[:, mm]]
        # the shared kernel with the raw query norm: a zero-norm query
        # scores NaN and gets no rows, as on the exact path
        return _rounded_cosine(dots.T, np.sqrt(rn2), qnorm)

    def score(batches):
        yield from _emit_pairs(batches, qids, id_col, adc, cell_mask)

    pruned = _probe_scan(
        spark, path, index, cells, id_col, where, "ivfpq", "pq_code"
    )
    scored = pruned.select(
        F.col(id_col), F.col("cell"), F.col("pq_code")
    ).mapInPandas(score, out_schema)
    if rerank_against is None:
        return _ranked_topk(scored, k)
    short = _ranked_topk(
        scored, shortlist if shortlist is not None else 10 * k,
        cols=("query_id", "cand_id"),
    )
    # exact rerank: tiny shortlist joins the raw corpus by id (bucket the
    # raw table by id at serving scale), query vectors ride a broadcast
    qvecs = spark.createDataFrame(
        [(qid, [float(x) for x in qv]) for qid, qv in zip(qids.tolist(), qmat)],
        f"query_id {id_schema}, _qv array<double>",
    )
    cand = short.join(
        rerank_against.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv")
        ),
        "cand_id",
    ).join(F.broadcast(qvecs), "query_id")
    # null for a zero-norm side (nullif), dropped before the rank
    exact = cand.select(
        "query_id", "cand_id",
        (F.round(cosine_similarity("_qv", "_cv"), 6) + F.lit(0.0)).alias(
            "cosine_sim"
        ),
    ).filter(F.col("cosine_sim").isNotNull())
    return _ranked_topk(exact, k)
