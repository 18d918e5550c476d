"""Deduplication operators (SURVEY §2.10 L1/L2): exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Scale notes (the whole point of these designs):
  - Exact dedup shuffles a 128-bit content hash, never the document bodies.
  - MinHash-LSH is the linear-time near-dup path: per-doc signature (one scan),
    explode to b band-buckets (b ≈ 8-16 rows/doc, tiny), self-join *within
    buckets only*. No all-pairs anything. Candidate verification re-joins the
    shingle sets for exact Jaccard — only for candidate pairs.
  - The exact n-gram Jaccard operator (quadratic within shingle-buckets) is
    the oracle-of-record at test SF, not the scale path.

Shared pair-generation steps, the one implementation of each for the five
near-dup pair functions (``minhash_lsh_pairs``, ``incremental_lsh_pairs``,
``simhash_near_pairs``, ``hamming_near_pairs``,
``incremental_hamming_pairs``) and ``jaccard_prefix_filter_pairs``: a
self-join is the R⋈S join with R = S, kept once as ``id_a < id_b``.
``_shingle_sets`` (per-doc shingle-hash sets), ``_band_candidates`` (the
(band_idx, band_hash) candidate join), ``_hamming_join`` (the
(chunk_idx, chunk_val) banded Hamming join with its chunk explode,
pigeonhole guard, first-agreeing-chunk rule and ``hamming <= max`` filter)
and ``_jaccard_verify`` (the exact ``array_intersect`` Jaccard verify).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import band_hashes
from ..session import fixpoint, release


def content_hash_col(content_cols: list[str]) -> Column:
    """Injective multi-column content encoding → md5.

    Each column is encoded as ``\\x01`` when NULL, else ``\\x02`` + 10-digit
    char length + value, then concatenated. The length prefix makes decoding
    unambiguous for ANY content (no separator-injection collisions), and the
    distinct NULL marker means NULL position always changes the hash —
    a bare concat_ws would silently skip NULLs, colliding ('a', NULL, 'b')
    with ('a', 'b', NULL) and dropping non-duplicate rows downstream.
    """
    parts = []
    for c in content_cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("\x01")).otherwise(
                F.concat(F.lit("\x02"), F.lpad(F.length(s).cast("string"), 10, "0"), s)
            )
        )
    return F.md5(F.concat(*parts))


def content_hash_sql(content_cols: list[str]) -> str:
    """DuckDB SQL equivalent of ``content_hash_col`` (oracle parity)."""
    parts = [
        f"CASE WHEN {c} IS NULL THEN chr(1) "
        f"ELSE chr(2) || lpad(CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR), 10, '0') "
        f"|| CAST({c} AS VARCHAR) END"
        for c in content_cols
    ]
    return f"md5({' || '.join(parts)})"


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (deterministic survivor).

    Returns (content hash, surviving id, dup count). Shuffles only
    (hash, id) pairs — at 100 TB the md5 is computed scan-side and the
    shuffle is ~48 bytes/row regardless of document size.
    """
    h = content_hash_col(content_cols)
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (the dedup oracle-of-record).

    Distinct shingles → explode → self-join on shingle → |A∩B| per pair →
    Jaccard from set sizes. Work is Σ_shingle (docs-per-shingle)² — fine when
    shingles are selective; use minhash_lsh_pairs when they aren't.
    """
    # Postings computed ONCE (a two-sided self-join would duplicate the whole
    # scan+shingle subtree — Spark has no CTE materialization), then pairs are
    # generated *within* each shingle's posting list after a single shuffle.
    # explode_outer + post-filter keeps the inferred non-empty predicate off
    # the scan, where it would re-evaluate the shingle HOF per input row.
    # Shingles travel as 64-bit hashes (exactness preserved up to 64-bit
    # collisions) — the postings shuffle never carries n-gram strings — and
    # the hash sets come from one vectorized Arrow UDF per doc, not the
    # interpreted sequence/slice/concat_ws HOF chain (~1600 evals/doc).
    from ..functions.hashing import text_shingle_hashes_udf

    sh_fn = text_shingle_hashes_udf(n)
    sh = docs.select(F.col(id_col), sh_fn(F.col(text_col)).alias("shingles"))
    postings = (
        sh.select(
            F.col(id_col).alias("id"),
            F.size("shingles").alias("sz"),
            F.explode_outer("shingles").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.collect_list(F.struct("id", "sz")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    # Length-ratio prune (AllPairs-style, exactness-preserving): J(A,B) ≤
    # min(|A|,|B|)/max(|A|,|B|), so pairs outside the ratio band can never
    # reach the threshold — drop them before the expensive pair aggregation.
    # The 1e-9 slack keeps exact-boundary pairs: double(t)*sz can overshoot
    # the exact rational by an ulp (0.56*25 = 14.000000000000002), which
    # would prune a pair with J == t precisely (review r10 — the prefix
    # operator's regression test pins this for both paths).
    ratio_ok = (F.col("b.sz") * threshold <= F.col("a.sz") + 1e-9) & (
        F.col("a.sz") * threshold <= F.col("b.sz") + 1e-9
    )
    pairs = (
        postings.select(F.explode("docs").alias("a"), "docs")
        .select("a", F.explode("docs").alias("b"))
        .filter((F.col("a.id") < F.col("b.id")) & ratio_ok)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("size_a"),
            F.col("b.sz").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Contract (r10 advice): the threshold tests the TRUE (unrounded)
    # Jaccard — int/int division is the same IEEE double in Spark and the
    # DuckDB oracle, so both engines agree bit-for-bit. Filtering on the
    # ROUND'ed value instead would admit pairs with true J in (t-5e-7, t)
    # that the exactness-preserving prunes (which guarantee survival only
    # for true J >= t-1e-9) are allowed to drop — a latent engine/oracle
    # divergence at corpus scale. ROUND(.,6) remains display-only.
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        pairs.filter(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 6))
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def jaccard_prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold via prefix filtering —
    the SERVED exact path (vs :func:`ngram_jaccard_pairs`, the deliberately
    uncapped yardstick whose shingle self-join grows with Σdf²).

    Prefix filtering (SSJoin, Chaudhuri/Ganti/Kaushik ICDE'06; PPJoin,
    Xiao/Wang/Lin/Yu WWW'08 — public literature): order every set's
    elements by one global canonical order (ascending document frequency,
    ties on the shingle hash) and keep only each set's first
    ``|s| - ceil(t*|s|) + 1`` elements as join keys. Any pair with
    J ≥ t has overlap o ≥ t*max(|A|,|B|), hence o ≥ ceil(t|A|) and
    ≥ ceil(t|B|), and the SSJoin prefix lemma guarantees the two prefixes
    share an element — so candidate generation loses NO true pair, and the
    verify step recomputes true Jaccard on the full sets, so precision is
    exact too. Same output contract as ngram_jaccard_pairs
    (id_a, id_b, n_common, jaccard); same oracle.

    Why this fixes the Σdf² blow-up without a recall-lossy df cap: the
    rarest-first order pushes a hot boilerplate shingle (df in the
    thousands) to the END of every set it appears in — it enters a doc's
    prefix only when all of that doc's other shingles are even hotter.
    Candidate work is Σ_shingle (prefix-df)², where prefix-df counts only
    docs whose prefix reached that shingle — on a boilerplate-heavy corpus
    this collapses the hot term (receipted in SCALE_PROBE.md) while staying
    exact. Two further exactness-preserving prunes run before any shingle
    array moves: the length-ratio filter (J ≤ min/max) and the PPJoin
    POSITIONAL filter — overlap is bounded by the first shared prefix
    shingle's ranks (see the inline lemma), which on a mid-similarity
    corpus kills ~99% of candidates before the verify join.

    Plan shape at 100 TB: one Arrow-batched shingle scan, materialized once
    (localCheckpoint — three consumers: df counts, prefix postings, verify
    arrays; recomputing the UDF subtree thrice would dominate); one
    shingle-keyed df aggregation + join (rows linear in postings, never
    df²); one doc-keyed window for prefix selection (partitioned by doc id
    — no one-partition trap); the prefix self-join; and a candidate-keyed
    verify join computing |A∩B| via array_intersect on the checkpointed
    sets. No Python after the scan.
    """
    from pyspark.sql.window import Window

    # materialize BEFORE filtering: a filter on a UDF column makes Catalyst
    # evaluate the UDF under both Filter and Project (see
    # ngram_jaccard_pairs), and this relation feeds three consumers.
    sh = _shingle_sets(docs, id_col, text_col, n).localCheckpoint()
    sized = sh.select(
        "id", F.size("shingles").alias("sz"), "shingles"
    ).filter(F.col("sz") > 0)

    posts = sized.select("id", "sz", F.explode("shingles").alias("shingle"))
    df_counts = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # global canonical order = (df asc, shingle): rarest first, total order
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
    # ceil over a DOUBLE product needs downward slack: double(t)*sz can
    # overshoot the exact rational by an ulp (0.56*25 = 14.000000000000002,
    # ceil 15 instead of 14), which would SHORTEN the prefix below the
    # lemma's requirement and silently lose boundary pairs. 1e-9 is 6
    # orders above the ulp and 7 below the 1/sz quantum that could
    # legitimately change the ceil.
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - 1e-9) + 1
    prefix = (
        posts.join(df_counts, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= plen)
        # a df-1 shingle has no join partner — it must OCCUPY its prefix
        # slot (the lemma is about the first plen elements in global order)
        # but can be dropped from the join input afterwards; on a mostly-
        # unique corpus this removes the bulk of the candidate-join rows
        .filter(F.col("df") > 1)
        .select("id", "sz", "shingle", "rn")
        # self-joined below: without materialization Spark would replay the
        # whole scan→explode→df-join→window subtree once per join side
        .localCheckpoint()
    )
    # length-ratio filter: J(A,B) ≤ min/max, so |sizes| outside [t, 1/t]
    # of each other can never reach the threshold. Same 1e-9 slack as the
    # prefix length: double(t)*size can overshoot the exact rational, and a
    # boundary pair (min == t*max exactly) must never be pruned.
    ratio_ok = (F.col("size_b") * threshold <= F.col("size_a") + 1e-9) & (
        F.col("size_a") * threshold <= F.col("size_b") + 1e-9
    )
    # PPJoin positional filter (exactness-preserving): let w be the pair's
    # FIRST shared prefix shingle in global order — any common shingle
    # before w would sit in BOTH prefixes (order-prefixes are downward
    # closed), contradicting w's minimality, so the true overlap is at most
    # 1 + min(|A| - rank_A(w), |B| - rank_B(w)). J ≥ t needs overlap
    # ≥ t/(1+t)·(|A|+|B|) (real-valued, so no ceil — a float ceil could
    # round a boundary pair OUT; the 1e-9 slack keeps the prune safe).
    # On a mid-similarity-heavy corpus this kills most candidates BEFORE
    # the verify join hauls any shingle arrays (measured 310k → ~1k pairs
    # at sf0.1), which is where the wall-clock was.
    first = F.min(F.struct("rn_a", "rn_b")).alias("w")
    cand = (
        prefix.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("size_a"),
            F.col("rn").alias("rn_a"),
            "shingle",
        )
        .join(
            prefix.select(
                F.col("id").alias("id_b"),
                F.col("sz").alias("size_b"),
                F.col("rn").alias("rn_b"),
                "shingle",
            ),
            "shingle",
        )
        .filter((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(first)
        .filter(
            1
            + F.least(
                F.col("size_a") - F.col("w.rn_a"),
                F.col("size_b") - F.col("w.rn_b"),
            )
            >= F.lit(threshold / (1.0 + threshold))
            * (F.col("size_a") + F.col("size_b"))
            - F.lit(1e-9)
        )
        .select("id_a", "id_b")
    )
    return _jaccard_verify(cand, "id_a", "id_b", sized, sized, threshold)


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingles): each doc's distinct word n-gram shingle hashes from
    one Arrow-batched UDF (functions/hashing.py::text_shingle_hashes_udf)."""
    from ..functions.hashing import text_shingle_hashes_udf

    sh_fn = text_shingle_hashes_udf(n)
    return docs.select(
        F.col(id_col).alias("id"), sh_fn(F.col(text_col)).alias("shingles")
    )


def _jaccard_verify(
    cand: DataFrame,
    a: str,
    b: str,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """(a, b, n_common, jaccard) for the candidate pairs ``cand`` (a, b)
    whose exact shingle-set Jaccard is >= ``threshold``: the sets join back
    by id from the (id, shingles) relations ``sets_a``/``sets_b`` for
    candidate pairs alone, and |A∩B| is ``array_intersect``'s size. The
    threshold tests the TRUE Jaccard, not the ROUND'ed display value (see
    ngram_jaccard_pairs: this is what makes the t-1e-9 prunes exact), so
    precision is exact whatever generated the candidates."""
    verified = cand.join(
        sets_a.select(F.col("id").alias(a), F.col("shingles").alias("sh_a")), a
    ).join(
        sets_b.select(F.col("id").alias(b), F.col("shingles").alias("sh_b")), b
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("long") / (F.size("sh_a") + F.size("sh_b") - inter)
    return verified.filter(jac >= threshold).select(
        a, b, inter.cast("long").alias("n_common"), F.round(jac, 6).alias("jaccard")
    )


def _band_candidates(
    left: DataFrame,
    right: DataFrame,
    a: str,
    b: str,
    self_pairs: bool = False,
    hint: str | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a, b) of two band indexes
    (:func:`minhash_band_index` rows): ONE equi-join on (band_idx,
    band_hash), so candidate generation shuffles only (id, band hash) rows,
    never shingle arrays. A pair colliding in several bands is kept once.
    ``self_pairs``: ``left`` and ``right`` are the same index, and each
    pair is kept once as a < b. ``hint``: join hint on the right side."""
    other = right.select(F.col("id").alias(b), "band_idx", "band_hash")
    if hint:
        other = other.hint(hint)
    pairs = left.select(F.col("id").alias(a), "band_idx", "band_hash").join(
        other, ["band_idx", "band_hash"]
    )
    if self_pairs:
        pairs = pairs.filter(F.col(a) < F.col(b))
    return pairs.select(a, b).dropDuplicates([a, b])


# Hash-family version tag: bump whenever functions/hashing.py changes the
# shingle/minhash seed derivation (_shingle_cmix) — an index built under a
# different family collides wrong, not loudly.
_MH_FAMILY = "cmix1"


def _mh_meta(n: int, num_hashes: int, bands: int) -> str:
    return f"{_MH_FAMILY}:n={n},h={num_hashes},b={bands}"


def _check_mh_meta(index: DataFrame, n: int, num_hashes: int, bands: int, arg: str) -> None:
    """Fail fast on a band index built with other parameters (or an older
    hash family): the (band_idx, band_hash) join would still run and recall
    would collapse SILENTLY — the exact-Jaccard verify then reads as "no
    near-dups found". One-row probe, not a full scan."""
    if "mh_meta" not in index.columns:
        return
    expected = _mh_meta(n, num_hashes, bands)
    # probe for ANY mismatched row, not an arbitrary first row: a
    # multi-batch index can MIX build parameters (sink restarted with new
    # params), and first() would pass or fail with partition order. The
    # filter prunes whole files in the all-match case — mh_meta is a
    # per-file constant, so parquet min==max stats answer != without a scan.
    found = index.filter(F.col("mh_meta") != F.lit(expected)).first()
    if found is not None:
        raise ValueError(
            f"{arg} contains rows built with {found['mh_meta']!r} but this "
            f"probe uses {expected!r}; rebuild the index or match the "
            f"parameters"
        )


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """The corpus's LSH band index: (id, band_idx, band_hash), one row per
    band per doc.

    This is the *persistable* artifact of near-dup ingestion — write it
    once (``streaming/ingest.py`` writes one ``index/batch=<id>`` per batch)
    and incremental batches probe it with an equi-join on the band key,
    never re-signing the corpus. Deterministic seeds (functions/hashing.py)
    make an index built today collide correctly with a signature computed
    next month.

    Every row carries ``mh_meta``, a literal build-parameter tag
    (hash-family version + n/num_hashes/bands). A single dictionary-encoded
    constant column costs ~nothing in parquet but lets
    :func:`incremental_lsh_pairs` reject an index whose parameters (or hash
    family) don't match the probe side — a mismatch would otherwise degrade
    recall silently.
    """
    rows = num_hashes // bands
    from ..functions.hashing import text_minhash_udf

    # tokenize→shingle→minhash fused in one Arrow-batched UDF over the raw
    # text — the interpreted-HOF route costs ~1600 expression evals per doc
    sig_fn = text_minhash_udf(num_hashes, n)
    # No isNotNull filter on sig: a filter on a UDF column makes Catalyst
    # evaluate the UDF twice (once under the Filter, once for the Project);
    # null sigs fall out below at the band_hash filter instead.
    sig = docs.select(
        F.col(id_col).alias("id"), sig_fn(F.col(text_col)).alias("sig")
    )
    # posexplode_outer: the plain generator would infer a non-empty filter
    # that re-evaluates the whole signature→band chain at the scan.
    return (
        sig.select(
            "id",
            F.posexplode_outer(band_hashes("sig", bands, rows)).alias(
                "band_idx", "band_hash"
            ),
        )
        .filter(F.col("band_hash").isNotNull())
        .withColumn("mh_meta", F.lit(_mh_meta(n, num_hashes, bands)))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash, verified with exact Jaccard.

    bands=16 × rows=2 → P(candidate) ≈ 1-(1-j²)¹⁶: >99.9% at j=0.5 — recall
    against the exact operator is asserted in tests. Output schema matches
    ngram_jaccard_pairs so the two are interchangeable.

    ``index``: optionally pass ``docs``' own band index (the
    :func:`minhash_band_index` output, typically checkpointed) when the
    caller also needs it for other consumers — the ingest sink shares ONE
    signing pass across within-batch pairing, the corpus probe and the
    index write this way, instead of re-signing the batch per consumer.
    Must be built from the same docs with the same (n, num_hashes, bands).
    """
    # Buckets pair via a SELF-EQUI-JOIN on (band_idx, band_hash), not a
    # collect_list explode — band hashes are md5-uniform over DISTINCT
    # texts, but byte-identical / boilerplate documents collide in EVERY
    # band, and a collect_list bucket would hold that whole duplicate mass
    # as one in-task array before any pruning (the same degenerate-bucket
    # exposure as the perceptual family's, see hamming_near_pairs). The
    # join streams pairs with O(partition) memory and AQE skew-split
    # applies.
    # Document bodies re-enter only for the final exact-Jaccard
    # verification join, keyed by id, on candidate pairs alone.
    if index is not None:
        _check_mh_meta(index, n, num_hashes, bands, "index")
        banded = index
    else:
        banded = minhash_band_index(docs, id_col, text_col, n, num_hashes, bands)
    # merge hint (the hamming_near_pairs discipline): when the band
    # index is derived in-flight, its subtree is the EXPENSIVE fused sign
    # UDF — and under AQE's broadcast choice the two join sides are NOT
    # canonically equal (one side is a BroadcastExchange), so the sign pass
    # ran TWICE (verified in the executed final plan: two sig()
    # ArrowEvalPython stages, zero reuse). Forcing the shuffle join makes
    # both sides the same hash-partitioned exchange and AQE reuses it
    # (ReusedExchange — runtime-pinned in tests/test_plans.py under the
    # production AQE config) — one signing pass at every scale, still
    # skew-split eligible. A caller-supplied (checkpointed/persisted) index
    # is cheap to re-read, so there the optimizer's choice stands.
    candidates = _band_candidates(
        banded, banded, "id_a", "id_b", self_pairs=True,
        hint=None if index is not None else "merge",
    )
    # Verification: two joins against the shingle relation. This instantiates
    # the scan→tokenize→shingle subtree twice, but measured A/B/C/D on a
    # 10× replicated duplicate-heavy corpus it is 2-4× faster than the
    # alternatives: (A) unpivot pairs + single join +
    # groupBy reassembly pays a shuffle+agg of the shingle *arrays*; (C)
    # joining raw text and shingling after the join re-evaluates the chain
    # once per pair side; (D) persisting candidates and semi-filtering docs
    # to candidate ids before shingling — attractive on paper (skips
    # shingling non-candidate docs) — measured 2× SLOWER on the dup-heavy
    # probe (persist materialization + distinct + semi-join overhead exceed
    # the shingle work saved whenever candidates aren't a vanishing
    # fraction) and no better at 1×. Here each doc shingles exactly once
    # per scan, pairs broadcast under AQE, and nothing wider than the
    # matched rows moves.
    sh = _shingle_sets(docs, id_col, text_col, n)
    return _jaccard_verify(candidates, "id_a", "id_b", sh, sh, threshold)


def incremental_lsh_pairs(
    base: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    base_index: DataFrame | None = None,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING corpus — the
    incremental-ingest shape every rolling crawl needs.

    ``new_index``: optionally pass the new batch's own band index to share
    one signing pass with other consumers (see
    :func:`minhash_lsh_pairs`'s ``index`` parameter).

    The corpus is probed through its band index (pass ``base_index`` — e.g.
    the persisted output of :func:`minhash_band_index` read back from
    parquet — to skip re-signing the corpus entirely; built in-flight from
    ``base`` when omitted). Candidates come from one equi-join on
    (band_idx, band_hash): new-batch index rows × corpus index rows — at
    100 TB the new batch is the small side (broadcast or bucket-co-located
    against the index's own bucketing), and corpus *text* re-enters only
    for candidate ids in the exact-Jaccard verification join.

    Returns (new_id, base_id, n_common, jaccard ≥ threshold); precision is
    exact by construction (true Jaccard recomputed), recall is the banded
    S-curve as in :func:`minhash_lsh_pairs`.
    """
    if base_index is None:
        base_index = minhash_band_index(base, id_col, text_col, n, num_hashes, bands)
    else:
        _check_mh_meta(base_index, n, num_hashes, bands, "base_index")
    if new_index is None:
        new_index = minhash_band_index(new, id_col, text_col, n, num_hashes, bands)
    else:
        _check_mh_meta(new_index, n, num_hashes, bands, "new_index")
    candidates = _band_candidates(new_index, base_index, "new_id", "base_id")
    return _jaccard_verify(
        candidates, "new_id", "base_id",
        _shingle_sets(new, id_col, text_col, n),
        _shingle_sets(base, id_col, text_col, n),
        threshold,
    )


def _prepare_edges(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Symmetrize pairs into a materialized (src, dst) edge set.

    The localCheckpoint materializes the repartitioned edge set once.
    Without it, every label-propagation round re-computes the union +
    repartition exchange from the raw pairs — Spark SQL does NOT reuse
    exchanges across separate actions (each round's convergence sum is its
    own action) — so the per-round cost grows with the edge set: measured
    20.0s → 14.5s (1.4×) at 2M edges, 7.7s → 5.9s at 200k, against the
    same function without the checkpoint. AQE coalesces the repartition's
    partitions to the edge set's size. Note the checkpointed LogicalRDD
    does NOT carry hashpartitioning metadata into later plans (verified:
    the round join re-shuffles or broadcasts per AQE stats), so the
    repartition's value is bounding the checkpointed block count/layout,
    not exchange elimination. Plan-asserted in tests/test_operators.py
    against THIS function: the returned edges are a materialized scan, no
    per-round exchange in their own lineage.
    """
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    return (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("dst")
        .localCheckpoint()
    )


def dedup_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate *clusters* from near-dup pairs: (id, cluster) with cluster =
    min id of the connected component — the survivor-selection stage every
    near-dup pipeline needs after pair generation.

    Min-label propagation to fixpoint: each round, every vertex takes the
    minimum label among itself and its neighbors — O(component diameter)
    rounds (near-dup components are shallow; the cap is a safety net). If
    labels still change in round ``max_iter``, a ``RuntimeWarning`` says so:
    vertices farther than ``max_iter`` hops from their component's min id
    then carry a wrong cluster id.
    Iteration is driver-controlled through ``session.fixpoint``, which pins
    each round with ``localCheckpoint`` to truncate lineage — the standard
    Spark pattern for iterative algorithms (GraphX Pregel does the same) —
    and releases the round before; each round is one join + one
    aggregation shuffling (id, label) pairs only.
    """
    edges = _prepare_edges(pairs, a_col, b_col)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )

    def propagate(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence signal rides along as a 0/1 column computed in the
        # same pass that produces the new labels — `labels` is still in scope
        # on the join's left side, so no second old-vs-new join (a full extra
        # shuffle per round) is needed; the sum() over the pin is the action
        # that materializes it.
        nbr = F.coalesce("nbr_label", "label")
        return labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
            "id",
            F.least(F.col("label"), nbr).alias("label"),
            (nbr < F.col("label")).cast("int").alias("chg"),
        )

    labels = fixpoint(
        labels,
        propagate,
        lambda pin: not pin.agg(F.sum("chg")).first()[0],
        max_iter,
        "dedup_components label propagation",
    )
    release(edges)
    return labels.select(F.col("id"), F.col("label").alias("cluster"))


def embedding_cosine_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold (exact all-pairs).

    The oracle-of-record for embedding dedup: O(n²) candidate space, kept
    exact. At 100 TB this runs per-shard after an LSH/IVF prefilter (the
    sign-sketch buckets in operators/similarity.py bound the candidate set);
    here it doubles as the recall yardstick for those approximate paths.
    Cosine matches the similarity oracles bit-for-bit: cast-to-double,
    strict left-to-right sums, ROUND 6 before the threshold.
    """
    from ..functions.vectors import cosine_similarity

    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(cosine_similarity("va", "vb"), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding: split the 64-bit hash into ``chunks`` 16-bit pieces —
    any pair within distance ≤ chunks-1 must agree on ≥1 piece, so the
    bucket-join finds all of them without an all-pairs pass.

    r16: pairing is the same skew-safe SELF-EQUI-JOIN + shuffle-free
    first-agreeing-chunk dedup as :func:`hamming_near_pairs` — simhash
    chunk values are data-dependent like the perceptual family's (a
    near-boilerplate corpus piles one chunk value into one bucket), so
    the collect_list formulation had the same degenerate-bucket exposure.
    The merge hint keeps the two join sides canonically equal at every
    scale, so the second side is a ReusedExchange: tokenize + simhash +
    shuffle run ONCE (plan-pinned in tests/test_plans.py, including the
    production AQE path — AQE's broadcast choice would otherwise replay
    the hash chain once per side).
    """
    from ..functions.hashing import simhash64_expr

    # The simhash is the output of a one-element explode, so it evaluates
    # exactly once per document scan. As a plain projected column it would
    # be re-evaluated: the isnotnull the join's hamming predicate infers is
    # pushed through the Project into a Filter at the scan, and an
    # interpreted HOF chain has no common-subexpression elimination. A
    # filter on a generator's output stays above the Generate.
    hashed = docs.select(
        id_col, F.explode(F.array(F.expr(simhash64_expr(text_col)))).alias("simhash")
    )
    return _hamming_join(
        hashed, hashed, "id_a", "id_b", id_col, "simhash", max_hamming, chunks,
        "simhash_near_pairs", self_pairs=True, hint="merge",
    )


def hamming_near_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "hash",
    max_hamming: int = 3,
    chunks: int = 4,
    join_hint: str | None = "merge",
) -> DataFrame:
    """Near-dup pairs by Hamming distance over an ALREADY-MATERIALIZED
    64-bit hash column — the banding core of :func:`simhash_near_pairs`
    generalized to any hash family (r14 verdict #4: perceptual image
    hashes, operators/multimodal.py::image_ahash64/image_dhash64, reuse
    this instead of growing their own join).

    Same pigeonhole guarantee: ``chunks`` pieces of 64/chunks bits each —
    any pair within distance <= chunks-1 agrees on >= 1 piece, so the
    single (chunk_idx, chunk_val) shuffle finds ALL of them; the result
    is exactly the all-pairs filter, never a recall trade. ``max_hamming``
    must stay <= chunks-1 or the guarantee breaks — guarded loudly.

    Pairing is a SELF-EQUI-JOIN on (chunk_idx, chunk_val), not a
    collect_list bucket explode (r15 verdict #1). Perceptual chunk values
    are data-dependent — every flat/near-white raster lands the identical
    16-bit chunk in one bucket, so on a real image corpus a bucket array
    would hold a large fraction of the corpus in ONE executor's memory
    before any pruning. The join formulation has no per-key array at all:
    SMJ/shuffled-hash streams the candidate pairs, the hamming filter
    prunes each one as it is produced, and AQE's skew-join split
    (spark.sql.adaptive.skewJoin) can break a hot (chunk_idx, chunk_val)
    partition across tasks — collect_list buckets are opaque to it. The
    candidate COUNT in a degenerate bucket is inherently quadratic
    (those pairs really are near-dups and must be emitted), but memory
    stays O(partition) and the work spreads across the cluster instead
    of concentrating in one task.

    A pair agreeing on k chunks meets in k buckets; the duplicates are
    removed WITHOUT a shuffle by the first-agreeing-chunk rule (see
    :func:`_hamming_join`). (``id_col`` is a key of the input, the dedup
    family's standing contract — duplicate id rows would emit duplicate
    pairs here rather than being absorbed.)

    ``join_hint="merge"`` (default): the input subtree is typically an
    EXPENSIVE Arrow decode+hash pass, and under a broadcast plan it would
    evaluate once per join side; forcing the shuffle join makes the two
    sides canonically equal, so the pass and its exchange run ONCE
    (ReusedExchange) at every scale — measured 1.7x on the sf0.1 image
    row — and SMJ stays AQE-skew-split eligible and sort-spills on
    degenerate buckets. Pass ``join_hint=None`` when the input is already
    materialized cheaply (e.g. a checkpointed batch or a parquet-backed
    index column) and the optimizer's broadcast choice should stand."""
    return _hamming_join(
        hashed, hashed, "id_a", "id_b", id_col, hash_col, max_hamming, chunks,
        "hamming_near_pairs", self_pairs=True, hint=join_hint,
    )


def incremental_hamming_pairs(
    base_hashed: DataFrame,
    new_hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "hash",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Cross-relation banded Hamming candidates — (base_id, new_id,
    hamming) for every base row within ``max_hamming`` of a new row. The
    ingestion-side sibling of :func:`hamming_near_pairs` (the text
    family's incremental_lsh_pairs shape applied to 64-bit perceptual
    hashes): the NEW batch is the small probe side of ONE equi-join on
    (chunk_idx, chunk_val), so the accumulated corpus index never
    self-joins and ingest cost tracks the batch, not the corpus. Same
    pigeonhole guarantee, same loud guard, same shuffle-free
    first-agreeing-chunk dedup of multi-bucket meetings as
    :func:`hamming_near_pairs`. Chunk pieces are bit-shift
    projections (free codegen), so the persisted index stays a flat
    (id, hash) relation — 16 logical bytes per row — and explodes only
    at probe time."""
    return _hamming_join(
        base_hashed, new_hashed, "base_id", "new_id", id_col, hash_col,
        max_hamming, chunks, "incremental_hamming_pairs",
    )


def _hamming_join(
    left: DataFrame,
    right: DataFrame,
    a: str,
    b: str,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    chunks: int,
    who: str,
    self_pairs: bool = False,
    hint: str | None = None,
) -> DataFrame:
    """(a, b, hamming) for every (left, right) row pair whose 64-bit
    ``hash_col`` values differ in at most ``max_hamming`` bits: each side
    explodes into ``chunks`` (chunk_idx, chunk_val) pieces and the pair
    meets in ONE equi-join on them. ``self_pairs``: ``left`` and ``right``
    are the same relation, and each pair is kept once as a < b. ``hint``:
    join hint on the right side. ``who`` names the public caller in the
    pigeonhole guard's error."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"{who}: max_hamming={max_hamming} needs > "
            f"{chunks} chunks for the pigeonhole guarantee (got {chunks})"
        )
    width = 64 // chunks
    mask = (1 << width) - 1

    def pieces(df: DataFrame, out_id: str, out_h: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(hash_col).alias(out_h),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk_idx"),
                            F.shiftright(F.col(hash_col), c * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("chunk_val"),
                        )
                        for c in range(chunks)
                    ]
                )
            ).alias("p"),
        ).select(out_id, out_h, "p.chunk_idx", "p.chunk_val")

    xor = F.col("h_a").bitwiseXOR(F.col("h_b"))
    ham = F.bit_count(xor)
    # First-agreeing-chunk rule, the shuffle-free dedup of banded-join
    # meetings: a pair agreeing on k chunks meets k times, and only the
    # meeting at the LOWEST agreeing chunk passes — true iff no chunk below
    # the row's chunk_idx also agrees (its xor piece is 0). Pure bit math
    # on the already-held hashes; whole-stage codegen, no exchange.
    agree = [
        F.shiftright(xor, c * width).bitwiseAND(F.lit(mask)) == 0
        for c in range(chunks)
    ]
    first_chunk = F.lit(True)
    for c in range(1, chunks):
        below = agree[0]
        for ag in agree[1:c]:
            below = below | ag
        first_chunk = F.when(F.col("chunk_idx") == c, ~below).otherwise(first_chunk)
    other = pieces(right, b, "h_b")
    if hint:
        other = other.hint(hint)
    pairs = pieces(left, a, "h_a").join(other, ["chunk_idx", "chunk_val"])
    if self_pairs:
        pairs = pairs.filter(F.col(a) < F.col(b))
    return (
        pairs.filter(first_chunk)
        .filter(ham <= max_hamming)
        .select(a, b, ham.cast("int").alias("hamming"))
    )


def dedup_lines_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
    max_segments: int = 1 << 20,
    unit: str = "segments",
) -> DataFrame:
    """C4-style within-document dedup, EXECUTED (Raffel et al. 2020 §2.2:
    discard all but one occurrence of any span repeated in the corpus).

    ``unit="segments"``: the "line" is a fixed non-overlapping
    ``seg_tokens``-token segment (the synthetic corpora carry no newlines).
    ``unit="lines"``: the C4-faithful real-corpus mode — the unit is a
    literal text line. The split accepts all three line-ending conventions
    ('\\r\\n', '\\r', '\\n' — real web corpora mix them, and a CRLF
    boilerplate line must string-match its LF twin to dedup), blank lines
    are dropped, and clean_text rejoins kept lines with '\\n' (line endings
    normalize). Deterministic keep-globally-first policy either way: a
    repeated unit survives only at its min-(id, position) occurrence, so
    reruns and both oracle engines keep identical text.

    ``id_col`` must be an integral column — it anchors the global-first
    position key. Non-numeric ids fail fast here (a silent cast-to-NULL
    would blank every document's output).

    Returns one row per input document that has >= 1 unit:
    (id_col, n_segs, n_removed, clean_text) with clean_text the kept
    units rejoined in document order.

    Plan shape (see the dedup_lines_c4 registry entry for the receipts):
    narrow transform+posexplode, ONE segment-keyed partial-MIN aggregation
    (a hot boilerplate segment collapses map-side), join back on segment
    (AQE skew-split), one doc-keyed ordered-reassembly aggregation. The
    corpus scans twice (2-column ReadSchema) — preferred over pinning a
    corpus-sized checkpoint; at 100 TB persist(DISK_ONLY) the segs relation
    if scan+tokenize dominates, and swap the raw-string key for
    xxhash64(segment) (collision-checked, the dedup_spans_hashed pattern).
    """
    from ..functions.hashing import let1, tokens_expr

    id_type = dict(docs.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"dedup_lines_keep_first: id_col {id_col!r} must be an integral "
            f"type (got {id_type!r}) — the global-first key is "
            f"id * max_segments + position, and a non-numeric id would cast "
            f"to NULL and silently blank every document"
        )
    if unit == "segments":
        k = seg_tokens
        seg_arr = let1(
            tokens_expr(text_col),
            "w",
            f"CASE WHEN size(w) >= 1 THEN "
            f"transform(sequence(1, (size(w) + {k - 1}) div {k}), "
            f"i -> concat_ws(' ', slice(w, (i - 1) * {k} + 1, {k}))) "
            f"ELSE cast(array() as array<string>) END",
        )
        joiner = " "
    elif unit == "lines":
        seg_arr = f"filter(split({text_col}, '\\r\\n|\\r|\\n'), x -> x <> '')"
        joiner = "\n"
    else:
        raise ValueError(
            f"dedup_lines_keep_first: unit must be 'segments' or 'lines', "
            f"got {unit!r}"
        )
    # Global-first key: id * max_segments + seg_idx. Fail-fast on BOTH
    # overflow edges rather than silently mis-ranking (the mixture_waterfill
    # hazard class): the per-doc slot (position must fit max_segments) AND
    # the int64 product (id * max_segments must not wrap — a wrapped
    # negative pos would beat every honest pos in MIN and keep the wrong
    # occurrence).
    max_id = ((1 << 63) - 1) // max_segments - 1
    seg_guard = F.assert_true(
        ((F.col("p") + 1) < F.lit(max_segments))
        & (F.col(id_col) <= F.lit(max_id))
        & (F.col(id_col) >= 0),
        F.concat(
            F.lit(
                f"dedup_lines_keep_first: global-first key overflow — need "
                f"position < {max_segments} and 0 <= {id_col} <= {max_id} "
                f"(got position="
            ),
            (F.col("p") + 1).cast("string"),
            F.lit(f", {id_col}="),
            F.col(id_col).cast("string"),
            F.lit("); adjust max_segments"),
        ),
    )
    segs = docs.select(
        id_col, F.posexplode(F.expr(seg_arr)).alias("p", "segment")
    ).select(
        id_col,
        (F.col("p") + 1).alias("seg_idx"),
        "segment",
        F.when(
            seg_guard.isNull(),
            F.col(id_col) * F.lit(max_segments) + F.col("p") + 1,
        ).alias("pos"),
    )
    firsts = segs.groupBy("segment").agg(F.min("pos").alias("keep_pos"))
    keep = F.col("pos") == F.col("keep_pos")
    kept_struct = F.when(keep, F.struct("seg_idx", "segment"))
    return (
        segs.join(firsts, "segment")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum((~keep).cast("long")).alias("n_removed"),
            # collect_list drops the NULLs when() leaves for clipped
            # segments; array_sort on (seg_idx, segment) structs restores
            # document order before reassembly.
            F.concat_ws(
                joiner,
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["segment"],
                ),
            ).alias("clean_text"),
        )
    )
