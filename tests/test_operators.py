"""Operator-level tests: as-of join, dedup family, similarity, approx aggs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


# --- as-of join -----------------------------------------------------------


def test_asof_join_golden(spark):
    from hadoop_word_score_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 10, "lx")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 990.0)],
        "k int, ts int, v double",
    )
    out = {
        (r.k, r.tag): (r.asof_ts, r.asof_v)
        for r in asof_join(left, right, on="k", how="left").collect()
    }
    assert out[(1, "l0")] == (None, None)        # nothing at-or-before 5
    assert out[(1, "l1")] == (10, 100.0)         # equal ts matches (inclusive)
    assert out[(1, "l2")] == (15, 150.0)         # latest ≤ 20
    assert out[(2, "lx")] == (None, None)        # right row is in the future


def test_asof_forward_and_tolerance(spark):
    from hadoop_word_score_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 30, "l3")], "k int, ts int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 12, 120.0), (1, 25, 250.0)], "k int, ts int, v double"
    )
    fwd = {
        r.tag: (r.asof_ts, r.asof_v)
        for r in asof_join(left, right, on="k", how="left", direction="forward").collect()
    }
    assert fwd == {"l1": (12, 120.0), "l2": (25, 250.0), "l3": (None, None)}
    # tolerance: backward match farther than 5 ticks is treated as absent
    # (l2's nearest is 12, gap 8 → absent; l3's nearest is 25, gap 5 → kept)
    tol = {
        r.tag: (r.asof_ts, r.asof_v)
        for r in asof_join(
            left, right, on="k", how="left", tolerance="5"
        ).collect()
    }
    assert tol == {"l1": (None, None), "l2": (None, None), "l3": (25, 250.0)}


def test_asof_inner_drops_unmatched(spark):
    from hadoop_word_score_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5, "a")], "k int, ts int, tag string")
    right = spark.createDataFrame([(1, 9, 1.0)], "k int, ts int, v double")
    assert asof_join(left, right, on="k", how="inner").count() == 0


def test_scd2_history_feeds_pit_enrich_leakage_safe(spark):
    # the composed feature-store seam (r9 verdict #4): pit_enrich consumes
    # the exact table scd2_history produces, and every fact gets the
    # version valid AT ITS OWN timestamp — never a later one, no fan-out
    from hadoop_word_score_spark.operators.scd2 import pit_enrich, scd2_history

    versions = spark.createDataFrame(
        [(1, "v1", 10), (1, "v2", 20), (2, "v1", 10)],
        "k int, version string, valid_from int",
    )
    hist = scd2_history(versions, key="k")
    rows = {(r.k, r.version): (r.valid_to, r.is_current) for r in hist.collect()}
    assert rows == {(1, "v1"): (20, 0), (1, "v2"): (None, 1), (2, "v1"): (None, 1)}

    facts = spark.createDataFrame(
        [(1, 15, "e1"), (1, 25, "e2"), (1, 5, "e0"), (2, 99, "e3")],
        "k int, ts int, tag string",
    )
    out = pit_enrich(
        facts, hist, on="k", fact_ts="ts", payload=["version"]
    )
    got = {r.tag: r.asof_version for r in out.collect()}
    # e0 predates v1 -> dropped (inner); e1 at t=15 sees v1 NOT the later
    # v2 (the leakage-safety property); e2 after the revision sees v2
    assert got == {"e1": "v1", "e2": "v2", "e3": "v1"}
    assert out.count() == 3  # one row per surviving fact: no fan-out


# --- dedup ----------------------------------------------------------------


def test_exact_dedup_survivor_is_min_id(spark):
    from hadoop_word_score_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], "doc_id long, text string"
    )
    rows = {r.keep_id: r.n_copies for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert rows == {1: 2, 2: 1}


def test_exact_dedup_idempotent(spark):
    from hadoop_word_score_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    once = exact_dedup(docs, ["text"], "doc_id")
    keep = docs.join(once.select(F.col("keep_id").alias("doc_id")), "doc_id")
    twice = exact_dedup(keep, ["text"], "doc_id")
    assert twice.filter(F.col("n_copies") > 1).count() == 0
    assert once.count() == twice.count()


def test_exact_dedup_null_position_not_collided(spark):
    # concat_ws would silently skip NULLs, colliding ('a', NULL) with
    # (NULL, 'a') and ('a',) — the encoded hash must keep them distinct
    from hadoop_word_score_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "a"), (3, "a", "a"), (4, "a", None)],
        "doc_id long, t1 string, t2 string",
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(df, ["t1", "t2"], "doc_id").collect()}
    assert out == {1: 2, 2: 1, 3: 1}  # only (1,4) are true duplicates


def test_exact_dedup_hash_matches_duckdb_encoding(spark):
    # content_hash_col and content_hash_sql are the same function in two
    # dialects — the driver's oracle comparison depends on it
    import duckdb

    from hadoop_word_score_spark.operators.dedup import (
        content_hash_col,
        content_hash_sql,
    )

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, None, "x"), (3, "", None)],
        "doc_id long, text string, lang string",
    )
    got = {
        r.doc_id: r.h
        for r in df.select("doc_id", content_hash_col(["text", "lang"]).alias("h")).collect()
    }
    con = duckdb.connect()
    sql_h = content_hash_sql(["text", "lang"])
    want = dict(
        con.execute(
            f"SELECT doc_id, {sql_h} FROM (VALUES (1, 'hello world', 'en'),"
            f" (2, NULL, 'x'), (3, '', NULL)) AS t(doc_id, text, lang)"
        ).fetchall()
    )
    assert got == want


def test_minhash_shingle_family_independent_of_num_hashes(spark):
    # cmix derives from its own seed: signatures of any width verify against
    # the same shingle-hash sets, so n_common/jaccard stay exact
    from hadoop_word_score_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "one two three four five six"),
         (3, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    exact = {(r.id_a, r.id_b): r.n_common for r in ngram_jaccard_pairs(df).collect()}
    wide = {
        (r.id_a, r.id_b): r.n_common
        for r in minhash_lsh_pairs(df, num_hashes=64, bands=32).collect()
    }
    assert wide == exact == {(1, 2): 4}


def test_minhash_recall_vs_exact(spark):
    from hadoop_word_score_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    approx = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert exact, "fixture should contain near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"minhash recall {recall:.2f} < 0.95"
    # verification step guarantees no false positives above threshold
    assert approx <= exact


def test_simhash_identical_docs_distance_zero(spark):
    from hadoop_word_score_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different text entirely unrelated")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --- similarity -----------------------------------------------------------


def test_lsh_similarity_recall_midsim(spark):
    from hadoop_word_score_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(q, em, k=5).collect()}
    # mid-similarity regime (true neighbors at cos≈0.3) needs LOW plane
    # counts — see operator docstring; the default targets near-dups
    approx = {
        (r.query_id, r.cand_id)
        for r in lsh_bucketed_topk(q, em, k=5, n_planes=3, n_tables=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall@5 {recall:.2f} < 0.5"


def test_lsh_near_dup_regime_defaults(spark):
    # the 10×16 defaults must (a) find planted cos≈0.89 near-dups and
    # (b) keep buckets selective — the r5-verdict failure mode was a 4-plane
    # default admitting ~40% of the corpus as candidates
    from hadoop_word_score_spark.operators.similarity import lsh_bucketed_topk
    from hadoop_word_score_spark.plans.queries import _planted_embeddings

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q, corpus = _planted_embeddings(em)
    top = lsh_bucketed_topk(q, corpus, k=5).collect()
    planted = {(r.query_id, r.cand_id) for r in top if r.cand_id >= 1000000}
    n_q = q.count()
    found = sum((qid, qid + 1000000) in planted for qid in range(n_q))
    assert found >= 0.8 * n_q, f"planted near-dup recall {found}/{n_q}"
    # planted neighbor is far above the natural cos≈0.3-0.6 band → rank 1
    rank1 = {r.query_id: r.cand_id for r in top if r.rank == 1}
    assert sum(rank1.get(qid) == qid + 1000000 for qid in range(n_q)) >= 0.8 * n_q


def test_ivf_similarity_recall(spark):
    from hadoop_word_score_spark.operators.similarity import brute_force_topk, ivf_topk

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(q, em, k=5).collect()}
    approx = {(r.query_id, r.cand_id) for r in ivf_topk(q, em, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # 4/16 cells probed → a priori 25% of corpus scanned; spherical cells
    # concentrate true neighbors, so recall should comfortably beat that
    assert recall >= 0.5, f"IVF recall@5 {recall:.2f} < 0.5"
    # every result must carry a correct exact cosine and valid rank
    rows = ivf_topk(q, em, k=5).collect()
    assert all(1 <= r.rank <= 5 for r in rows)


def test_ivf_persist_probe_roundtrip(spark, tmp_path):
    from hadoop_word_score_spark.operators.similarity import (
        brute_force_topk,
        ivf_probe_topk,
        persist_ivf_index,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf")
    persist_ivf_index(em, path, n_cells=8)
    rows = ivf_probe_topk(spark, path, q, k=5, n_probe=4).collect()
    assert all(1 <= r.rank <= 5 for r in rows)
    assert all(r.query_id != r.cand_id for r in rows)
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(q, em, k=5).collect()}
    approx = {(r.query_id, r.cand_id) for r in rows}
    # probing 4/8 cells: spherical cells concentrate neighbors, so recall
    # should comfortably beat the a priori 50% corpus fraction
    assert len(exact & approx) / len(exact) >= 0.5
    # a wrong-dimension query names the fix instead of a numpy matmul error
    short_q = q.select("vec_id", F.expr("slice(embedding, 1, 32)").alias("embedding"))
    with pytest.raises(ValueError, match="was built for dim"):
        ivf_probe_topk(spark, path, short_q, k=5, n_probe=4)


def test_ivf_index_preserves_id_type(spark, tmp_path):
    # r5 advice: the mapInPandas schemas must derive the id type from the
    # input, not assume long — an int id must survive build AND probe
    from hadoop_word_score_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_topk,
        persist_ivf_index,
    )

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    _, index = build_ivf_index(em, n_cells=4)
    assert index.schema["vec_id"].dataType.simpleString() == "int"
    path = str(tmp_path / "ivf_int")
    persist_ivf_index(em, path, n_cells=4)
    out = ivf_probe_topk(spark, path, em.filter("vec_id < 2"), k=3, n_probe=2)
    assert out.schema["query_id"].dataType.simpleString() == "int"
    assert out.count() > 0


def test_ivf_string_id_corpus_end_to_end(spark, tmp_path):
    # r6 verdict item 7: the id-type generality claim, executed — a STRING
    # id corpus through build + persist + probe. String ids also exercise
    # the numpy round-trip (object dtype, not a numeric cast) and the
    # result must agree pair-for-pair with the same corpus under long ids.
    from hadoop_word_score_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_topk,
        persist_ivf_index,
    )

    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    em = base.select(
        F.format_string("doc-%05d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    _, index = build_ivf_index(em, n_cells=4)
    assert index.schema["vec_id"].dataType.simpleString() == "string"
    path = str(tmp_path / "ivf_str")
    persist_ivf_index(em, path, n_cells=4)
    out = ivf_probe_topk(
        spark, path, em.filter(F.col("vec_id") < "doc-00002"), k=3, n_probe=2
    )
    assert out.schema["query_id"].dataType.simpleString() == "string"
    assert out.schema["cand_id"].dataType.simpleString() == "string"
    rows = out.collect()
    assert rows and all(r.query_id.startswith("doc-") for r in rows)

    # same corpus, long ids: identical (query, cand, rank) modulo the id
    # rendering — the zero-padded mapping is order-preserving, so the
    # deterministic seeds/cells coincide
    path2 = str(tmp_path / "ivf_long")
    persist_ivf_index(base, path2, n_cells=4)
    out2 = ivf_probe_topk(
        spark, path2, base.filter(F.col("vec_id") < 2), k=3, n_probe=2
    )
    want = {(f"doc-{r.query_id:05d}", f"doc-{r.cand_id:05d}", r.rank)
            for r in out2.collect()}
    got = {(r.query_id, r.cand_id, r.rank) for r in rows}
    assert got == want


def test_embedding_cosine_pairs_symmetric_bound(spark):
    from hadoop_word_score_spark.operators.dedup import embedding_cosine_pairs

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(100)
    rows = embedding_cosine_pairs(em, threshold=0.3).collect()
    assert rows, "expected some pairs at cos >= 0.3"
    assert all(r.id_a < r.id_b for r in rows)
    assert all(-1.000001 <= r.cosine_sim <= 1.000001 for r in rows)


def test_brute_force_topk_self_excluded_and_ranked(spark):
    from hadoop_word_score_spark.operators.similarity import brute_force_topk

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = brute_force_topk(em.filter(F.col("vec_id") < 3), em, k=5).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.cand_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine_sim))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True)
        assert [r for r, _ in rows] == [1, 2, 3, 4, 5]


def test_brute_force_topk_guards_large_query_side(spark):
    # the driver-side collect is bounded: a bulk query set must fail fast
    # with a clear redirect, not OOM the driver
    import pytest

    from hadoop_word_score_spark.operators.similarity import brute_force_topk

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    with pytest.raises(ValueError, match="lsh_bucketed_topk"):
        brute_force_topk(em, em, k=5, max_queries=10)
    # explicit opt-in raises the cap
    assert brute_force_topk(em.limit(12), em, k=1, max_queries=50).count() > 0


# --- approximate aggregates ----------------------------------------------


def test_approx_count_distinct_error_bound(spark):
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    exact = o.select(F.count_distinct("o_custkey")).collect()[0][0]
    # default rsd (5%) measured 6.7% on this fixture; rsd=1% buys accuracy
    # with a bigger sketch — the knob a 100 TB user would turn too
    approx = o.select(F.approx_count_distinct("o_custkey", 0.01)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.03


def test_percentile_approx_error_bound(spark):
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    exact = o.select(F.percentile("o_totalprice", F.lit(0.5))).collect()[0][0]
    approx = o.select(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000))
    ).collect()[0][0]
    assert abs(approx - exact) / exact < 0.01


# --- skew ----------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    from hadoop_word_score_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").limit(2000)
    s = spark.read.parquet(f"{SF_ORACLE}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    fact = li.withColumnRenamed("l_suppkey", "s_suppkey")
    plain = fact.join(s, "s_suppkey").groupBy("s_name").count()
    salted = salted_join(fact, s, "s_suppkey", salts=4).groupBy("s_name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_outer_modes(spark):
    # right/full would emit unmatched dim rows once per salt — not a join
    import pytest

    from hadoop_word_score_spark.operators.skew import salted_join

    f = spark.createDataFrame([(1, "x")], "k int, v string")
    d = spark.createDataFrame([(1, "y")], "k int, w string")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(f, d, "k", salts=4, how=how)
    assert salted_join(f, d, "k", salts=4, how="left").count() == 1


def test_pq_is_lossless_when_distinct_vectors_fit_codebook(spark):
    # <= k distinct vectors per subspace and deterministic lowest-id seeds
    # mean Lloyd converges to the exact points: reconstruction error is
    # ZERO, so ADC cosine == exact cosine (to the shared 6-dp rounding) for
    # every pair. The strongest oracle PQ admits without SQL kmeans.
    import numpy as np

    from hadoop_word_score_spark.operators.pq import pq_encode, pq_train

    rng = np.random.default_rng(7)
    distinct = rng.normal(size=(8, 8)).round(3)
    rows = [(i, [float(x) for x in distinct[i % 8]]) for i in range(32)]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(em, m=2, k=8, iterations=2)
    assert books.shape == (2, 8, 4)
    enc = pq_encode(em, books, keep=()).collect()
    assert len(enc) == 32
    for r in enc:
        recon = np.concatenate([books[m][c] for m, c in enumerate(r.pq_code)])
        assert np.allclose(recon, distinct[r.vec_id % 8], atol=1e-6)


def test_ivfpq_persist_probe_planted_rerank_and_guards(spark, tmp_path):
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_probe_topk,
        persist_ivfpq_index,
    )
    from hadoop_word_score_spark.operators.similarity import brute_force_topk

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 5)
    planted = q.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "CAST(transform(sequence(0, 63),"
            " i -> embedding[i] + 0.48D * embedding[(i + 57) % 64])"
            " AS ARRAY<FLOAT>)"
        ).alias("embedding"),
    )
    corpus = em.select("vec_id", "embedding").unionByName(planted)
    path = str(tmp_path / "ivfpq")
    persist_ivfpq_index(corpus, path, n_cells=16, m=16, k=32)

    # the index itself carries NO vector column — the compression claim
    idx = spark.read.parquet(f"{path}/index")
    assert sorted(idx.columns) == ["cell", "pq_code", "vec_id"]

    # ADC-only probe surfaces every planted cos~0.89 near-dup in top-5
    adc = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6)
    got = {(r.query_id, r.cand_id) for r in adc.collect()}
    assert all((i, i + 1000000) in got for i in range(5))

    # IVFADC+R: exact rerank of the ADC shortlist recovers >= 0.8 of the
    # true top-5 (the mid-similarity regime ADC alone cannot serve)
    rr = ivfpq_probe_topk(
        spark, path, q, k=5, n_probe=6, shortlist=50, rerank_against=corpus
    )
    exact = {(r.query_id, r.cand_id) for r in brute_force_topk(q, corpus, k=5).collect()}
    approx = {(r.query_id, r.cand_id) for r in rr.collect()}
    assert len(exact & approx) / len(exact) >= 0.8

    # one zero-norm policy: a zero query has no neighbours on the exact,
    # the ADC and the reranked path alike
    zero_q = spark.createDataFrame(
        [(2000000, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    assert brute_force_topk(zero_q, corpus, k=5).collect() == []
    assert ivfpq_probe_topk(spark, path, zero_q, k=5, n_probe=6).collect() == []
    assert ivfpq_probe_topk(
        spark, path, zero_q, k=5, n_probe=6, shortlist=50,
        rerank_against=corpus,
    ).collect() == []

    # shape-contract guards refuse loudly instead of mis-decoding codes
    meta = _json.load(open(f"{path}/_pq_meta.json"))
    _json.dump({**meta, "m": 8}, open(f"{path}/_pq_meta.json", "w"))
    with _pytest.raises(ValueError, match="rebuild the index"):
        ivfpq_probe_topk(spark, path, q, k=5)
    _json.dump(meta, open(f"{path}/_pq_meta.json", "w"))
    short_q = q.select("vec_id", F.expr("slice(embedding, 1, 32)").alias("embedding"))
    with _pytest.raises(ValueError, match="dim"):
        ivfpq_probe_topk(spark, path, short_q, k=5)


def test_similarity_ivfpq_delete(spark, tmp_path):
    # r13 verdict #5: tombstone delete + cell-local vacuum. The probe must
    # exclude tombstoned ids immediately; the vacuum must rewrite ONLY the
    # touched cells (file identity of untouched cell dirs pinned), drop a
    # fully-emptied cell's directory, clear the manifest, and leave the
    # probe results bit-identical to the tombstone-filtered ones.
    import os as _os

    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_probe_topk,
        persist_ivfpq_index,
    )
    from hadoop_word_score_spark.operators.similarity import (
        ann_index_delete,
        ann_index_vacuum,
        load_ann_tombstones,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 5)
    planted = q.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "CAST(transform(sequence(0, 63),"
            " i -> embedding[i] + 0.48D * embedding[(i + 57) % 64])"
            " AS ARRAY<FLOAT>)"
        ).alias("embedding"),
    )
    corpus = em.select("vec_id", "embedding").unionByName(planted)
    path = str(tmp_path / "ivfpq")
    persist_ivfpq_index(corpus, path, n_cells=16, m=16, k=32)

    # pre-delete: every planted near-dup tops its query
    pre = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6)
    got = {(r.query_id, r.cand_id) for r in pre.collect()}
    assert all((i, i + 1000000) in got for i in range(5))

    # tombstone the planted rows + one whole cell's worth of ids
    idx = spark.read.parquet(f"{path}/index")
    a_cell = int(idx.select("cell").orderBy("cell").limit(1).collect()[0][0])
    cell_ids = idx.filter(F.col("cell") == a_cell).select("vec_id")
    dead = planted.select("vec_id").unionByName(cell_ids).distinct()
    n = ann_index_delete(dead, path)
    assert n == dead.count()
    assert ann_index_delete(dead.limit(0), path) == 0  # empty batch no-op

    # probe now excludes every tombstoned id, without any file rewrite
    tomb = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6)
    dead_set = {r.vec_id for r in dead.collect()}
    tomb_rows = tomb.collect()
    assert tomb_rows and not {r.cand_id for r in tomb_rows} & dead_set

    # record file identity per cell dir before the vacuum
    def _sig(cell):
        d = f"{path}/index/cell={cell}"
        if not _os.path.isdir(d):
            return None
        return sorted(
            (e.name, e.stat().st_ino, e.stat().st_mtime_ns)
            for e in _os.scandir(d)
        )
    cells = sorted(
        int(e.name.split("=")[1])
        for e in _os.scandir(f"{path}/index") if e.name.startswith("cell=")
    )
    before = {c: _sig(c) for c in cells}
    touched = {
        int(r.cell)
        for r in idx.join(
            F.broadcast(dead), "vec_id", "left_semi"
        ).select("cell").distinct().collect()
    }

    stats = ann_index_vacuum(spark, path)
    assert stats["rows_removed"] == len(dead_set)
    assert stats["cells_dropped"] >= 1  # a_cell was fully emptied
    assert not _os.path.isdir(f"{path}/index/cell={a_cell}")
    assert stats["cells_rewritten"] + stats["cells_dropped"] == len(touched)
    # untouched cells: byte-for-byte the same files (no rewrite happened)
    for c in cells:
        if c not in touched:
            assert _sig(c) == before[c], f"untouched cell {c} was rewritten"
    assert load_ann_tombstones(spark, path) is None  # manifest cleared

    # post-vacuum probe is bit-identical to the tombstone-filtered probe
    post = {(r.query_id, r.rank, r.cand_id, r.cosine_sim)
            for r in ivfpq_probe_topk(spark, path, q, k=5, n_probe=6).collect()}
    assert post == {(r.query_id, r.rank, r.cand_id, r.cosine_sim)
                    for r in tomb_rows}

    # vacuum with no tombstones is a no-op
    assert ann_index_vacuum(spark, path) == {
        "cells_rewritten": 0, "cells_dropped": 0, "rows_removed": 0
    }


def test_similarity_raw_ivf_delete_parity(spark, tmp_path):
    # The tombstone consult also guards the RAW IVF probe (same index
    # layout, same manifest): delete -> excluded, vacuum -> identical.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_delete,
        ann_index_vacuum,
        ivf_probe_topk,
        persist_ivf_index,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 3)
    planted = q.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "CAST(transform(sequence(0, 63),"
            " i -> embedding[i] + 0.48D * embedding[(i + 57) % 64])"
            " AS ARRAY<FLOAT>)"
        ).alias("embedding"),
    )
    corpus = em.select("vec_id", "embedding").unionByName(planted)
    path = str(tmp_path / "ivf")
    persist_ivf_index(corpus, path, n_cells=8)
    pre = {(r.query_id, r.cand_id)
           for r in ivf_probe_topk(spark, path, q, k=5, n_probe=4).collect()}
    assert all((i, i + 1000000) in pre for i in range(3))
    ann_index_delete(planted.select("vec_id"), path)
    tomb = ivf_probe_topk(spark, path, q, k=5, n_probe=4).collect()
    assert tomb and not any(r.cand_id >= 1000000 for r in tomb)
    ann_index_vacuum(spark, path)
    post = ivf_probe_topk(spark, path, q, k=5, n_probe=4).collect()
    key = lambda rows: {(r.query_id, r.rank, r.cand_id, r.cosine_sim)  # noqa: E731
                        for r in rows}
    assert key(post) == key(tomb)


def _build_vacuum_fixture(spark, tmp_path):
    """Small raw-IVF index + a tombstone batch that touches >=2 cells and
    fully empties one of them; returns (path, expected survivor id set)."""
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_delete,
        persist_ivf_index,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(300)
    path = str(tmp_path / "ivf_crash")
    persist_ivf_index(em.select("vec_id", "embedding"), path, n_cells=8)
    idx = spark.read.parquet(f"{path}/index")
    cells = sorted(int(r[0]) for r in idx.select("cell").distinct().collect())
    full_cell, partial_cell = cells[0], cells[1]
    dead = (
        idx.filter(F.col("cell") == full_cell).select("vec_id")
        .unionByName(
            idx.filter(F.col("cell") == partial_cell)
            .select("vec_id").limit(3)
        )
    )
    assert ann_index_delete(dead, path) == dead.count()
    all_ids = {r.vec_id for r in idx.select("vec_id").collect()}
    dead_ids = {r.vec_id for r in dead.collect()}
    return path, all_ids - dead_ids


def _planted_ivf_corpus(spark, n=200):
    from pyspark.sql import functions as F

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(n)
    q = em.filter(F.col("vec_id") < 3)
    planted = q.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "CAST(transform(sequence(0, 63),"
            " i -> embedding[i] + 0.48D * embedding[(i + 57) % 64])"
            " AS ARRAY<FLOAT>)"
        ).alias("embedding"),
    )
    base = em.select("vec_id", "embedding")
    return q, base, base.unionByName(planted)


def test_ann_rebuild_and_swap_under_serving(spark, tmp_path):
    # r14 verdict #5: rebuild-and-swap under a serving reader. v1 serves
    # a corpus WITH planted near-dups; the rebuild stages v2 (dedup
    # removed them) while probes keep answering from v1; the atomic
    # pointer flip switches serving; a later commit garbage-collects
    # versions beyond the grace window.
    import os as _os

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_begin_rebuild,
        ann_index_commit_version,
        ann_index_current_version,
        ivf_probe_topk,
        persist_ivf_index,
        resolve_index_root,
    )

    q, base, with_planted = _planted_ivf_corpus(spark)
    path = str(tmp_path / "ivf_vers")
    root1, v1 = ann_index_begin_rebuild(path)
    assert (root1, v1) == (f"{path}/v=1", 1)
    persist_ivf_index(with_planted, root1, n_cells=8)
    ann_index_commit_version(path, v1)
    assert ann_index_current_version(path) == 1
    assert resolve_index_root(path) == root1

    def top_cands():
        return {r.cand_id for r in
                ivf_probe_topk(spark, path, q, k=3, n_probe=8).collect()}

    assert any(c >= 1000000 for c in top_cands())  # planted serve from v1

    # stage v2 (planted rows dropped); serving must NOT change yet
    root2, v2 = ann_index_begin_rebuild(path)
    assert any(c >= 1000000 for c in top_cands())  # mid-rebuild: still v1
    persist_ivf_index(base, root2, n_cells=8)
    assert any(c >= 1000000 for c in top_cands())  # staged but uncommitted
    ann_index_commit_version(path, v2)
    assert ann_index_current_version(path) == 2
    assert not any(c >= 1000000 for c in top_cands())  # flip: v2 serves
    assert _os.path.isdir(root1)  # grace window: previous version kept

    # third version: v=1 falls out of the keep window
    root3, v3 = ann_index_begin_rebuild(path)
    persist_ivf_index(base, root3, n_cells=8)
    ann_index_commit_version(path, v3)
    assert not _os.path.isdir(root1) and _os.path.isdir(root2)


def test_ivf_probe_coalesces_versioned_index_like_flat(spark, tmp_path):
    # The probed-bytes coalesce lists the index through the version
    # pointer, so a versioned (v=N) index gets the same Coalesce as the
    # flat layout — and serves the same rows.
    import re as _re

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_begin_rebuild,
        ann_index_commit_version,
        ivf_probe_topk,
        persist_ivf_index,
    )

    q, base, _ = _planted_ivf_corpus(spark)
    flat = str(tmp_path / "ivf_flat")
    persist_ivf_index(base, flat, n_cells=8)
    versioned = str(tmp_path / "ivf_versioned")
    root, v = ann_index_begin_rebuild(versioned)
    persist_ivf_index(base, root, n_cells=8)
    ann_index_commit_version(versioned, v)

    served = []
    for path in (flat, versioned):
        probe = ivf_probe_topk(spark, path, q, k=3, n_probe=4)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert _re.search(r"Coalesce \d+", plan), f"{path}: no Coalesce\n{plan}"
        served.append({(r.query_id, r.cand_id, r.rank) for r in probe.collect()})
    assert served[0] == served[1]


def test_ann_rebuild_crash_leaves_old_serving(spark, tmp_path):
    # A rebuild that dies before commit must change NOTHING: the commit
    # refuses a staging root without a completed index write, probes keep
    # serving the old version, and the next begin_rebuild cleans the
    # stale staging directory.
    import os as _os

    import pytest as _pytest

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_begin_rebuild,
        ann_index_commit_version,
        ann_index_current_version,
        ivf_probe_topk,
        persist_ivf_index,
    )

    q, base, with_planted = _planted_ivf_corpus(spark)
    path = str(tmp_path / "ivf_crashed_rebuild")
    root1, v1 = ann_index_begin_rebuild(path)
    persist_ivf_index(with_planted, root1, n_cells=8)
    ann_index_commit_version(path, v1)
    before = {(r.query_id, r.rank, r.cand_id) for r in
              ivf_probe_topk(spark, path, q, k=3, n_probe=8).collect()}

    root2, v2 = ann_index_begin_rebuild(path)
    _os.makedirs(f"{root2}/index")  # crashed mid-write: no _SUCCESS
    with _pytest.raises(ValueError, match="no completed index write"):
        ann_index_commit_version(path, v2)
    assert ann_index_current_version(path) == 1
    after = {(r.query_id, r.rank, r.cand_id) for r in
             ivf_probe_topk(spark, path, q, k=3, n_probe=8).collect()}
    assert after == before  # old version untouched and still serving

    root2b, v2b = ann_index_begin_rebuild(path)
    assert (root2b, v2b) == (root2, v2)
    assert _os.listdir(root2b) == []  # stale staging cleaned


def test_ann_versioned_ivfpq_drift_rebuild_and_maintenance(spark, tmp_path):
    # The drift-guard -> rebuild loop the guard's message demands, on the
    # IVF-PQ layout: a refused append triggers a versioned rebuild over
    # the widened corpus; after the flip the new vectors serve. Delete +
    # vacuum then operate on the CURRENT version (tombstones are
    # version-scoped under the resolved root).
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_index_append,
        ivfpq_probe_topk,
        persist_ivfpq_index,
    )
    from hadoop_word_score_spark.operators.similarity import (
        ann_index_begin_rebuild,
        ann_index_commit_version,
        ann_index_delete,
        ann_index_vacuum,
        resolve_index_root,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(200)
    base = em.select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq_vers")
    root1, v1 = ann_index_begin_rebuild(path)
    persist_ivfpq_index(base, root1, n_cells=8, m=16, k=16)
    ann_index_commit_version(path, v1)

    # a batch orthogonal to every coarse centroid (null-space direction,
    # the drift-guard fixture pattern): the append refuses and demands a
    # rebuild
    import numpy as _np

    cmat = _np.array(
        [r.centroid for r in
         spark.read.parquet(f"{resolve_index_root(path)}/centroids")
         .collect()]
    )
    null_dir = _np.linalg.svd(cmat)[2][-1]
    shifted = spark.createDataFrame(
        [(2000000 + i, [float(x) for x in null_dir]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="rebuild the index"):
        ivfpq_index_append(shifted, path, max_coarse_drift=0.2)

    # the demanded rebuild: retrain on base + shifted, swap, serve
    root2, v2 = ann_index_begin_rebuild(path)
    persist_ivfpq_index(
        base.unionByName(shifted), root2, n_cells=8, m=16, k=16
    )
    ann_index_commit_version(path, v2)
    qs = shifted.limit(2)
    got = {r.cand_id for r in
           ivfpq_probe_topk(spark, path, qs, k=3, n_probe=8).collect()}
    assert any(c >= 2000000 for c in got)  # new vectors serve post-flip

    # version-scoped maintenance: delete + vacuum under the current root
    dead = shifted.select("vec_id")
    ann_index_delete(dead, path)
    assert _os.path.exists(
        f"{resolve_index_root(path)}/tombstones/_SUCCESS"
    )
    got2 = {r.cand_id for r in
            ivfpq_probe_topk(spark, path, qs, k=3, n_probe=8).collect()}
    assert not {c for c in got2 if c >= 2000000}
    stats = ann_index_vacuum(spark, path)
    assert stats["rows_removed"] == 5
    got3 = {r.cand_id for r in
            ivfpq_probe_topk(spark, path, qs, k=3, n_probe=8).collect()}
    assert got3 == got2


def test_ann_vacuum_install_failure_loses_nothing(spark, tmp_path, monkeypatch):
    # r14 verdict #1: the old swap rmtree'd the live cell dir before the
    # install rename — a failure between the two destroyed the only copy
    # of the survivors. Inject a failure into the INSTALL rename (after
    # the live dir moved aside) and prove (a) the survivors still exist
    # on disk, (b) a plain retry converges to the exact survivor set.
    import os as _os

    from hadoop_word_score_spark.operators.similarity import ann_index_vacuum

    path, survivors = _build_vacuum_fixture(spark, tmp_path)
    stage = f"{path}/_vacuum_stage"
    real_replace = _os.replace
    state = {"failed": False}

    def failing_replace(src, dst):
        if not state["failed"] and str(src).startswith(stage):
            state["failed"] = True
            raise OSError("injected: crash between aside and install")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        ann_index_vacuum(spark, path)
    monkeypatch.setattr(_os, "replace", real_replace)

    # the aside dir holds the cell whose install failed; no survivor row
    # is gone from disk (live index ∪ aside covers the full survivor set)
    aside = f"{path}/_vacuum_aside"
    assert _os.path.isdir(aside) and any(
        e.name.startswith("cell=") for e in _os.scandir(aside)
    )
    assert not _os.path.isdir(stage)  # stage is disposable, and dropped
    on_disk = {r.vec_id for r in spark.read.parquet(f"{path}/index")
               .select("vec_id").collect()}
    on_disk |= {r.vec_id for r in spark.read.parquet(aside)
                .select("vec_id").collect()}
    assert survivors <= on_disk

    # retry: recovery restores the aside, the vacuum completes, and the
    # index is EXACTLY the survivor set — zero rows lost, zero resurrected
    ann_index_vacuum(spark, path)
    final = {r.vec_id for r in spark.read.parquet(f"{path}/index")
             .select("vec_id").collect()}
    assert final == survivors
    assert not _os.path.isdir(aside)
    assert not _os.path.exists(f"{path}/tombstones")


def test_ann_vacuum_hard_crash_recovery(spark, tmp_path):
    # Hard-kill simulation: the process died mid-swap, so no finally block
    # ran — the stage dir is still on disk, one survivor-bearing cell and
    # the fully-dead cell both sit in the aside dir, tombstones uncleared.
    # The next vacuum must restore the asides (not treat the stage as the
    # source of truth), then converge to the exact survivor set.
    import os as _os
    import shutil as _shutil

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_recover,
        ann_index_vacuum,
    )

    path, survivors = _build_vacuum_fixture(spark, tmp_path)
    idx_dir = f"{path}/index"
    aside = f"{path}/_vacuum_aside"
    cells = sorted(e.name for e in _os.scandir(idx_dir)
                   if e.name.startswith("cell="))
    _os.makedirs(aside)
    # crashed state: two cells moved aside, a half-written stage left over
    for name in cells[:2]:
        _os.replace(f"{idx_dir}/{name}", f"{aside}/{name}")
    _os.makedirs(f"{path}/_vacuum_stage/{cells[0]}")
    _shutil.copytree(f"{aside}/{cells[1]}",
                     f"{path}/_vacuum_stage/{cells[1]}")

    assert ann_index_recover(path) == 2  # both cells restored
    assert not _os.path.isdir(aside)
    restored = {r.vec_id for r in spark.read.parquet(idx_dir)
                .select("vec_id").collect()}
    assert survivors <= restored  # nothing lost by the crash+recovery

    ann_index_vacuum(spark, path)
    final = {r.vec_id for r in spark.read.parquet(idx_dir)
             .select("vec_id").collect()}
    assert final == survivors
    assert not _os.path.exists(f"{path}/tombstones")
    assert not _os.path.isdir(f"{path}/_vacuum_stage")


def test_ann_vacuum_crash_before_tombstone_clear(spark, tmp_path, monkeypatch):
    # Crash window between aside cleanup and manifest clear: tombstones
    # survive the swap. The retry must be a no-op that clears the manifest
    # without touching (or resurrecting) any row.
    import os as _os

    from hadoop_word_score_spark.operators.similarity import ann_index_vacuum

    path, survivors = _build_vacuum_fixture(spark, tmp_path)
    real_utime = _os.utime

    def failing_utime(*a, **kw):
        raise OSError("injected: died before clearing tombstones")

    monkeypatch.setattr(_os, "utime", failing_utime)
    with pytest.raises(OSError, match="injected"):
        ann_index_vacuum(spark, path)
    monkeypatch.setattr(_os, "utime", real_utime)

    assert _os.path.exists(f"{path}/tombstones/_SUCCESS")  # manifest kept
    mid = {r.vec_id for r in spark.read.parquet(f"{path}/index")
           .select("vec_id").collect()}
    assert mid == survivors  # swap itself completed

    out = ann_index_vacuum(spark, path)  # retry: nothing left to remove
    assert out == {"cells_rewritten": 0, "cells_dropped": 0,
                   "rows_removed": 0}
    assert not _os.path.exists(f"{path}/tombstones")
    final = {r.vec_id for r in spark.read.parquet(f"{path}/index")
             .select("vec_id").collect()}
    assert final == survivors


def test_ivfpq_filtered_probe_respects_predicate_and_guards(spark, tmp_path):
    # r12 verdict #4: metadata columns in the index + a predicate pushed
    # into the pruned code scan. Pins: (1) every returned candidate
    # satisfies the predicate, (2) the filtered top-k matches exact brute
    # force over the filtered corpus at >= 0.8 recall after rerank, (3) an
    # unresolvable predicate and a meta-less append both refuse loudly.
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_index_append,
        ivfpq_probe_topk,
        persist_ivfpq_index,
    )
    from hadoop_word_score_spark.operators.similarity import brute_force_topk

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_f")
    persist_ivfpq_index(em, path, n_cells=16, m=16, k=32, meta_cols=("label",))
    idx = spark.read.parquet(f"{path}/index")
    assert sorted(idx.columns) == ["cell", "label", "pq_code", "vec_id"]

    q = em.filter(F.col("vec_id") < 5)
    out = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6, where="label >= 5")
    cand_ids = [r.cand_id for r in out.collect()]
    assert cand_ids  # the predicate keeps ~half the corpus
    bad = (
        em.filter(F.col("vec_id").isin(cand_ids) & (F.col("label") < 5))
        .count()
    )
    assert bad == 0

    # recall vs exact-filtered brute force (rerank also filtered)
    fcorpus = em.filter(F.col("label") >= 5)
    rr = ivfpq_probe_topk(
        spark, path, q, k=5, n_probe=6, shortlist=50,
        rerank_against=fcorpus, where="label >= 5",
    )
    exact = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(q, fcorpus, k=5).collect()
    }
    approx = {(r.query_id, r.cand_id) for r in rr.collect()}
    assert len(exact & approx) / len(exact) >= 0.8

    # guards: unknown column names the fix; meta-less append refuses; a
    # type-mismatched meta column refuses too (mixed-dtype cell files would
    # break the NEXT probe's read, far from the cause — r13 review)
    with _pytest.raises(ValueError, match="meta_cols"):
        ivfpq_probe_topk(spark, path, q, k=5, where="nope = 1")
    with _pytest.raises(ValueError, match="lacks"):
        ivfpq_index_append(
            em.filter(F.col("vec_id") == 7).select("vec_id", "embedding"),
            path,
        )
    with _pytest.raises(ValueError, match="cast it to match"):
        ivfpq_index_append(
            em.filter(F.col("vec_id") == 7).select(
                "vec_id", F.col("label").cast("long").alias("label"),
                "embedding",
            ),
            path,
        )
    # append WITH the column lands rows probe-visible under the filter
    n = ivfpq_index_append(
        em.filter(F.col("vec_id") == 7).select(
            (F.col("vec_id") + 2000000).alias("vec_id"),
            F.lit(9).alias("label"), "embedding",
        ),
        path,
    )
    assert n == 1
    again = ivfpq_probe_topk(
        spark, path, em.filter(F.col("vec_id") == 7), k=5, n_probe=6,
        where="label = 9",
    )
    assert 2000007 in {r.cand_id for r in again.collect()}


def test_ivf_raw_filtered_probe_respects_predicate_and_guard(spark, tmp_path):
    # the raw-vector twin of the IVF-PQ filtered probe: label rides the
    # persisted index, the predicate lands in the pruned scan, candidates
    # all satisfy it, and an unresolvable predicate names the fix.
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.similarity import (
        ivf_probe_topk,
        persist_ivf_index,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivf_f")
    persist_ivf_index(em, path, n_cells=16, meta_cols=("label",))
    q = em.filter(F.col("vec_id") < 5)
    out = ivf_probe_topk(spark, path, q, k=5, n_probe=6, where="label >= 5")
    cand_ids = [r.cand_id for r in out.collect()]
    assert cand_ids
    assert (
        em.filter(F.col("vec_id").isin(cand_ids) & (F.col("label") < 5))
        .count()
        == 0
    )
    with _pytest.raises(ValueError, match="meta_cols"):
        ivf_probe_topk(spark, path, q, k=5, where="nope = 1")


def test_pq_train_sampled_codebooks_keep_recall(spark):
    # the 100 TB training lever: codebooks trained on a deterministic
    # hash-mod sample must still let full-corpus ADC surface planted
    # near-dups (training saturates on a sample; encoding covers all).
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_probe_topk,
        persist_ivfpq_index,
        pq_train,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    sampled = pq_train(em, m=16, k=32, train_ppm=500_000)  # ~half
    assert sampled.shape == (16, 32, 4)
    with _pytest.raises(ValueError, match="train_ppm"):
        pq_train(em, m=16, k=32, train_ppm=0)

    # recall check through the persisted path with half-corpus training:
    # monkeypatch-free — build an index whose codebooks come from the
    # sampled trainer by calling the pieces persist uses
    q = em.filter(F.col("vec_id") < 5)
    planted = q.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "CAST(transform(sequence(0, 63),"
            " i -> embedding[i] + 0.48D * embedding[(i + 57) % 64])"
            " AS ARRAY<FLOAT>)"
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = em.unionByName(planted)
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="ivfpq_sampled_")
    try:
        persist_ivfpq_index(corpus, path, n_cells=16, m=16, k=32,
                            train_ppm=500_000)
        adc = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6)
        got = {(r.query_id, r.cand_id) for r in adc.collect()}
        assert sum((i, i + 1000000) in got for i in range(5)) >= 4
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ivfpq_append_indexes_new_vectors_and_guards_drift(spark, tmp_path):
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_index_append,
        ivfpq_probe_topk,
        persist_ivfpq_index,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivfpq_app")
    persist_ivfpq_index(em, path, n_cells=16, m=16, k=32)
    meta0 = _json.load(open(f"{path}/_pq_meta.json"))
    assert "worst_coarse_sim" in meta0  # training envelope recorded

    # append planted near-dups of queries 0..4 — only they are new
    q = em.filter(F.col("vec_id") < 5)
    planted = q.select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.expr(
            "CAST(transform(sequence(0, 63),"
            " i -> embedding[i] + 0.48D * embedding[(i + 57) % 64])"
            " AS ARRAY<FLOAT>)"
        ).alias("embedding"),
    )
    assert ivfpq_index_append(planted, path, max_coarse_drift=0.9) == 5
    meta1 = _json.load(open(f"{path}/_pq_meta.json"))
    assert meta1["appended"] == 5
    # review r12: the training envelope is FROZEN — an accepted batch must
    # not ratchet worst_coarse_sim looser, or repeated borderline appends
    # would let a fully drifted batch slide under the guard
    assert meta1["worst_coarse_sim"] == meta0["worst_coarse_sim"]

    adc = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6)
    got = {(r.query_id, r.cand_id) for r in adc.collect()}
    assert all((i, i + 1000000) in got for i in range(5))

    # empty batch: no-op, returns 0, meta untouched
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert ivfpq_index_append(empty, path) == 0

    # drift guard: a batch ORTHOGONAL to every coarse centroid (null-space
    # direction via numpy) has cosine ~0 to all of them — below any real
    # training envelope — and must refuse
    import numpy as _np

    cmat = _np.array(
        [r.centroid for r in
         spark.read.parquet(f"{path}/centroids").collect()]
    )
    _, _, vt = _np.linalg.svd(cmat)
    null_dir = vt[-1]  # 16 centroids in 64-dim: vt[-1] is in the null space
    assert float(_np.abs(cmat @ null_dir).max()) < 1e-8
    shifted = spark.createDataFrame(
        [(2000000 + i, [float(x) for x in null_dir]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="drifted"):
        ivfpq_index_append(shifted, path, max_coarse_drift=0.2)

    # dim guard
    short = em.limit(1).select(
        "vec_id", F.expr("slice(embedding, 1, 32)").alias("embedding")
    )
    with _pytest.raises(ValueError, match="dim"):
        ivfpq_index_append(short, path)


def test_pq_rejects_indivisible_subspaces(spark):
    import pytest as _pytest

    from hadoop_word_score_spark.operators.pq import pq_train

    em = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="divide"):
        pq_train(em, m=2, k=2, iterations=1)


def test_salted_agg_matches_unsalted(spark):
    from hadoop_word_score_spark.operators.skew import salted_sum_count
    from pyspark.sql import functions as FF

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    got = {
        r.l_returnflag: (round(r.sum_l_quantity, 2), r.n_rows)
        for r in salted_sum_count(li, ["l_returnflag"], "l_quantity").collect()
    }
    want = {
        r.l_returnflag: (round(r.s, 2), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(FF.sum("l_quantity").alias("s"), FF.count(FF.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_dedup_components_chain_and_islands(spark):
    import warnings

    from hadoop_word_score_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # converged: no warning
        got = {r.id: r.cluster for r in dedup_components(pairs).collect()}
    # chain 1-2-3-4 collapses to 1 (diameter > 1 → needs propagation rounds)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_components_warns_when_max_iter_cuts_propagation(spark):
    # a 40-node path needs 39 rounds to carry label 1 to its far end; with
    # max_iter=3 the far nodes keep wrong cluster ids, which must not pass
    # silently
    from hadoop_word_score_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    with pytest.warns(
        RuntimeWarning, match="did not reach a fixpoint within max_rounds=3"
    ):
        got = {r.id: r.cluster for r in dedup_components(pairs, max_iter=3).collect()}
    assert got[40] != 1


def test_dedup_components_edges_materialized_once(spark):
    # The localCheckpoint must leave the edge set as a materialized scan:
    # no union/repartition exchange in its own lineage (those would
    # otherwise re-run in EVERY label-propagation round — each round's
    # convergence sum is a separate action and Spark SQL does not
    # reuse exchanges across actions; measured 1.4x slower at 2M edges).
    # Asserted against the SHIPPED _prepare_edges (the seam
    # dedup_components actually runs), so removing its checkpoint fails here.
    from hadoop_word_score_spark.operators.dedup import _prepare_edges

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 400, 2)], "id_a long, id_b long"
    )
    edges = _prepare_edges(pairs)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_round_loops_release_superseded_pins(spark):
    # Each operator keeps only the pins its returned plan reads: the final
    # label pin (dedup_components), the canonical edges and the final
    # survivors (kcore_nodes), the edges and the node set (pagerank). Pins
    # of earlier rounds and of the edge staging are released, not left for
    # the JVM's garbage collector.
    from hadoop_word_score_spark.operators.dedup import dedup_components
    from hadoop_word_score_spark.operators.graph import kcore_nodes, pagerank

    def _persistent_ids():
        # set of ids, not a count: in a shared session Spark's async
        # ContextCleaner may unpersist an unrelated older RDD between the
        # two reads, which breaks a size delta (r7 order-dependent flake)
        # but cannot add an id to the after-minus-before set difference.
        ks = spark.sparkContext._jsc.getPersistentRDDs().keySet()
        return {int(k) for k in ks.toArray()}

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    path = spark.createDataFrame([(i, i + 1) for i in range(11)], "src int, dst int")
    und = path.union(path.select("dst", "src"))
    held = {}
    for name, build in (
        ("dedup_components", lambda: dedup_components(chain)),
        ("kcore_nodes", lambda: kcore_nodes(path, k=2)),
        ("pagerank", lambda: pagerank(und, iterations=3)),
    ):
        before = _persistent_ids()
        out = build()  # referenced while counting: GC cannot free its pins
        out.collect()
        held[name] = len(_persistent_ids() - before)
    assert held == {"dedup_components": 1, "kcore_nodes": 2, "pagerank": 2}


def test_dedup_components_end_to_end_minhash(spark):
    from hadoop_word_score_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    clusters = dedup_components(pairs)
    rows = clusters.collect()
    assert rows, "fixture has near-dups"
    # cluster label is always the component minimum — a member of the cluster
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r.id)
    for label, members in by_cluster.items():
        assert label == min(members)


def test_hll_sketch_error_bound_and_merge(spark):
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.sources.registry import load_table

    rows = {r.event_type: r
            for r in REGISTRY["hll_distinct_sketch"].fn(spark, SF_ORACLE).collect()}
    e = load_table(spark, SF_ORACLE, "events")
    exact = {r.event_type: r.n for r in
             e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()}
    exact["ALL"] = e.agg(F.count_distinct("user_id")).collect()[0][0]
    assert set(rows) == set(exact)
    for k, r in rows.items():
        # exact side is genuinely exact; the sketch estimate (incl. the
        # merged-sketch ALL row) sits within the advertised bound
        assert r.exact_users == exact[k], (k, r)
        assert r.hll_within_5pct, (k, r)


def test_merge_upsert_arms_and_idempotence(spark):
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.merge import merge_upsert
    from hadoop_word_score_spark.sources.registry import load_table

    c = load_table(spark, SF_ORACLE, "customer")
    src = c.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.lit(1.5)
    )
    once = merge_upsert(c, src, "c_custkey")
    # update arm applied, nothing inserted/deleted
    assert once.count() == c.count()
    assert once.filter(F.col("c_acctbal") == 1.5).count() == src.count()
    # idempotent for a pure-update source
    twice = merge_upsert(once, src, "c_custkey")
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))
    # delete arm removes matched rows
    deleted = merge_upsert(c, src, "c_custkey", delete_when=F.lit(True))
    assert deleted.count() == c.count() - src.count()


def test_doc_chunks_cover_every_token_and_overlap(spark):
    # Every token index lands in ≥1 chunk; consecutive chunks overlap by 16
    # tokens (64-window, 48-stride); reassembling stride-sized prefixes
    # reproduces the tokenized doc.
    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["doc_chunks"].fn(spark, SF_SMOKE).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for a, b in zip(chunks, chunks[1:]):
            assert b.chunk_start - a.chunk_start == 48
        last = chunks[-1]
        n_tokens = last.chunk_start + last.chunk_tokens
        assert (n_tokens - 1) // 48 == last.chunk_idx  # windows cover the doc
        for c in chunks:
            assert c.chunk_tokens == min(64, n_tokens - c.chunk_start)


def test_pack_sequences_bins_are_contiguous(spark):
    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["pack_sequences"].fn(spark, SF_SMOKE).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for docs in by_src.values():
        docs.sort(key=lambda r: r.doc_id)
        cum = 0
        prev_bin = 0
        for d in docs:
            assert d.offset_in_stream == cum  # stream is gapless
            assert d.bin_id == cum // 512
            assert d.bin_id >= prev_bin  # bins are monotone in stream order
            cum += d.n_tokens
            prev_bin = d.bin_id


def test_shuffle_shards_is_a_permutation(spark):
    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["shuffle_shards"].fn(spark, SF_SMOKE).collect()
    ids = sorted(r.doc_id for r in rows)
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(ids) == len(set(ids)) == n_docs  # bijection: no loss, no dup
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense ranks


def test_pii_redact_patterns_and_counts(spark):
    # Golden cases for the email/phone scrub used by the pii_redact query.
    from hadoop_word_score_spark.plans.queries import _EMAIL_RE, _PHONE_RE

    df = spark.createDataFrame(
        [
            (1, "contact a.smith+x@mail.example.org or 555-123-4567 today"),
            (2, "no pii here, just words and 123 numbers"),
            (3, "two mails a@b.io c@d.co and dotted phone 555.123.4567"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("clean_text"),
        (
            F.regexp_count("text", F.lit(_EMAIL_RE))
            + F.regexp_count("text", F.lit(_PHONE_RE))
        ).cast("long").alias("n_redactions"),
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].clean_text == "contact <EMAIL> or <PHONE> today"
    assert rows[1].n_redactions == 2
    assert rows[2].clean_text == "no pii here, just words and 123 numbers"
    assert rows[2].n_redactions == 0
    assert rows[3].clean_text == "two mails <EMAIL> <EMAIL> and dotted phone <PHONE>"
    assert rows[3].n_redactions == 3


def test_repetition_filter_ratio_bounds(spark):
    # dup_token_ratio is 0 for all-distinct docs, ->1 for one repeated token,
    # and the keep flag thresholds at 0.6.
    from hadoop_word_score_spark.plans.queries import REGISTRY

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),              # all distinct -> ratio 0, keep
            (2, "x x x x x x x x x x"),    # 10 copies -> ratio 0.9, drop
            (3, "p q p q p"),              # 5 tokens, 2 distinct -> 0.6, keep
            (4, "   "),                    # no tokens -> filtered out
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_rep_docs")
    fn = REGISTRY["quality_repetition_filter"].fn
    import unittest.mock as mock
    from hadoop_word_score_spark.plans import queries as qmod

    with mock.patch.object(qmod, "_t", lambda s, d, n: df):
        out = {r.doc_id: r for r in fn(spark, "unused").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].dup_token_ratio == 0.0 and bool(out[1].keep)
    assert out[2].dup_token_ratio == 0.9 and not out[2].keep
    assert out[3].dup_token_ratio == 0.6 and bool(out[3].keep)
    assert out[1].n_tokens == 5 and out[1].mean_token_len == 1.0


# --- bloom decontamination -------------------------------------------------


def test_bloom_no_false_negatives_and_hit_lower_bound(spark):
    # Every hash inserted on the build side MUST be a member on the probe
    # side (Bloom's one-sided error), so per-doc hits ≥ the true shared
    # count — asserted exactly against a string-level ground truth.
    from hadoop_word_score_spark.operators.bloom import bloom_decontaminate

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (101, "one two three four five six seven")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # full copy: all 5-grams shared
         (2, "xx one two three four five six yy"),     # contains an eval 5-gram run
         (3, "totally unrelated words in this doc here")],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_bloom_hits for r in
            bloom_decontaminate(train, ev, n=5).collect()}
    assert hits[1] == 2          # 6 tokens → 2 distinct 5-grams, both shared
    assert hits[2] == 2          # "one two three four five" + "two ... six"
    assert hits[3] == 0          # nothing shared, and m=2^22 makes FPs ~impossible
    assert set(hits) == {1, 2, 3}  # every train row reported


def test_bloom_bitmap_build_is_exact_membership_superset(spark):
    import numpy as np

    from hadoop_word_score_spark.operators.bloom import (
        _bit_positions,
        build_bloom_bitmap,
    )

    vals = [(int(v),) for v in np.random.RandomState(7).randint(-2**62, 2**62, 200)]
    df = spark.createDataFrame(vals, "h long")
    m, k = 1 << 18, 5
    bitmap = build_bloom_bitmap(df, "h", m=m, k=k)
    p = _bit_positions(np.array([v[0] for v in vals], dtype=np.int64), m, k)
    member = ((bitmap[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all(axis=1)
    assert member.all()          # zero false negatives by construction


# --- incremental dedup -----------------------------------------------------


def test_incremental_lsh_matches_cross_split_pairs(spark):
    # Incremental(base, new) must equal the cross-split subset of the
    # all-corpus pair set — same threshold, same verification.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = {frozenset((r.new_id, r.base_id))
           for r in incremental_lsh_pairs(base, new, threshold=0.5).collect()}
    full = minhash_lsh_pairs(docs, threshold=0.5).collect()
    cross = {frozenset((r.id_a, r.id_b)) for r in full
             if (r.id_a % 5 == 0) != (r.id_b % 5 == 0)}
    assert inc == cross
    assert inc, "fixture should contain cross-split near-dups"


def test_incremental_lsh_with_persisted_index(tmp_path, spark):
    # The scale path: the corpus's band index is written to parquet once and
    # probed by a later batch without re-signing the corpus.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_index,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path / "band_index")
    minhash_band_index(base).write.parquet(path)
    idx = spark.read.parquet(path)
    from_idx = {(r.new_id, r.base_id, r.jaccard) for r in
                incremental_lsh_pairs(base, new, threshold=0.5,
                                      base_index=idx).collect()}
    in_flight = {(r.new_id, r.base_id, r.jaccard) for r in
                 incremental_lsh_pairs(base, new, threshold=0.5).collect()}
    assert from_idx == in_flight and from_idx


def test_dedup_spans_exact_invariants(spark):
    # every surviving span is exactly K tokens long, appears in >= 2 docs,
    # and occurrence count dominates doc count
    from hadoop_word_score_spark.plans.queries import _SPAN_K, REGISTRY

    rows = REGISTRY["dedup_spans_exact"].fn(spark, SF_ORACLE).collect()
    assert rows, "sf0.01 corpus has duplicated spans (near-dup fixtures)"
    for r in rows:
        assert len(r.span.split(" ")) == _SPAN_K
        assert r.n_docs >= 2
        assert r.n_occurrences >= r.n_docs


def test_quality_unigram_logprob_invariants(spark):
    # log-probs are strictly negative (no token has corpus probability 1),
    # every doc with >= 1 token appears exactly once, and the weighted-mean
    # identity holds: sum(n_tokens) == corpus token count
    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.sources.registry import load_table

    rows = REGISTRY["quality_unigram_logprob"].fn(spark, SF_ORACLE).collect()
    docs = load_table(spark, SF_ORACLE, "documents")
    n_docs_with_tokens = docs.filter(
        F.size(F.expr(tokens_expr("text"))) > 0
    ).count()
    total_tokens = docs.select(
        F.sum(F.size(F.expr(tokens_expr("text")))).alias("n")
    ).first().n
    assert len(rows) == n_docs_with_tokens
    assert sum(r.n_tokens for r in rows) == total_tokens
    assert all(r.avg_logprob < 0 for r in rows)


def test_winnowing_coverage_guarantee(spark):
    # The algorithm's defining property (Schleimer et al. 2003): documents
    # sharing any token run of length >= w + k - 1 share at least one
    # fingerprint — regardless of the differing context around the run.
    from hadoop_word_score_spark.functions.hashing import winnow_fingerprints_expr

    k, w = 5, 8
    shared = " ".join(f"common{i}" for i in range(w + k - 1))  # exactly the bound
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {shared} delta epsilon"),
            (2, f"one two {shared} three four five six"),
            (3, "entirely disjoint tokens nothing in common here at all"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", F.expr(winnow_fingerprints_expr("text", k, w)).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared run of w+k-1 tokens must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # density: fingerprints are a strict sample of the gram hashes
    n_grams_1 = len(df.collect()[0].text.split()) - k + 1
    assert 0 < len(fps[1]) < n_grams_1


def test_heavy_hitters_matches_full_groupby(spark):
    # The two-phase bounded-memory plan must be EXACT whenever the k-th
    # frequency clears N/(capacity+1) — compare against the naive full
    # groupBy top-k on the real corpus.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.frequent import heavy_hitters_topk
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    tokens = d.select(F.explode(F.expr(tokens_expr("text"))).alias("term"))
    got = heavy_hitters_topk(tokens, "term", k=15, capacity=256).collect()
    want = (
        tokens.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(15)
        .collect()
    )
    assert [(r.term, r.n) for r in got] == [(r.term, r.n) for r in want]
    # the runtime precondition check agrees: k-th frequency clears N/257
    assert all(r.exact for r in got)


def test_heavy_hitters_flags_undersized_capacity(spark):
    # r6 advice: when the k-th true frequency does NOT clear
    # N/(capacity+1), the output must say so instead of silently producing
    # a plausible wrong top-k. capacity=2 => threshold N/3, which no 10th
    # frequency can clear on a real vocabulary.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.frequent import heavy_hitters_topk
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    tokens = d.select(F.explode(F.expr(tokens_expr("text"))).alias("term"))
    rows = heavy_hitters_topk(tokens, "term", k=10, capacity=2).collect()
    assert rows and not any(r.exact for r in rows)


def test_heavy_hitters_candidate_guarantee(spark):
    # Mergeable-MG guarantee: every term with global frequency >
    # N/(capacity+1) survives pruning into the candidate set, even at a
    # deliberately tiny capacity where the summaries are heavily pruned.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.frequent import _mg_summarize
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    capacity = 16
    d = load_table(spark, SF_SMOKE, "documents")
    tokens = d.select(F.explode(F.expr(tokens_expr("text"))).alias("term"))
    summaries = tokens.mapInPandas(
        _mg_summarize("term", capacity), schema="term string, mg_count long"
    )
    candidates = {r.term for r in summaries.select("term").distinct().collect()}
    n_total = tokens.count()
    threshold = n_total / (capacity + 1)
    must_survive = {
        r.term
        for r in tokens.groupBy("term").count().filter(F.col("count") > threshold).collect()
    }
    assert must_survive <= candidates
    # and pruning actually happened (candidates ≪ vocabulary)
    vocab = tokens.select("term").distinct().count()
    assert len(candidates) < vocab


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    # The receipt behind the z-order claim. At equal file counts the mean
    # bounding-box AREA of z-tiles and linear slices is the same (f square
    # tiles vs f thin slices both cover domain/f); what z-order buys is
    # per-DIMENSION pruning: a selective predicate on EITHER column
    # intersects only ~sqrt-many files' min/max ranges, where a
    # single-column sort prunes one dimension perfectly and the other not
    # at all. Measure files whose per-file min/max range intersects a
    # 1/16-of-domain predicate, per dimension — the file-skipping a
    # min/max-stats reader performs.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.layout import (
        zorder_bucket,
        zorder_key,
    )
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    bounds = li.agg(
        F.min("l_orderkey").alias("mn_o"), F.max("l_orderkey").alias("mx_o"),
        F.min("l_partkey").alias("mn_p"), F.max("l_partkey").alias("mx_p"),
    ).collect()[0]
    zcol = zorder_key(
        zorder_bucket(F.col("l_orderkey"), bounds.mn_o, bounds.mx_o, 8),
        zorder_bucket(F.col("l_partkey"), bounds.mn_p, bounds.mx_p, 8),
        8,
    )

    n_files = 16
    paths = {"zorder": str(tmp_path / "z"), "linear": str(tmp_path / "lin")}
    # Deterministic tiling: file id = top 4 bits of the 16-bit z-key, i.e.
    # an exact 4x4 Morton-quadrant grid (repartitionByRange would sample
    # split points and give a run-dependent, raggedly-straddling layout —
    # right for a production writer, wrong for a receipt).
    (
        li.withColumn("zfile", F.shiftright(zcol, 12))
        .write.partitionBy("zfile")
        .parquet(paths["zorder"])
    )
    (
        li.withColumn(
            "zfile",
            zorder_bucket(F.col("l_orderkey"), bounds.mn_o, bounds.mx_o, 4),
        )
        .write.partitionBy("zfile")
        .parquet(paths["linear"])
    )

    def files_intersecting(path, col, lo, hi):
        stats = (
            spark.read.parquet(path)
            .groupBy("zfile")
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
        )
        return (
            stats.filter((F.col("mx") >= lo) & (F.col("mn") <= hi)).count(),
            stats.count(),
        )

    def mid_range(lo, hi):
        span = (hi - lo + 1) // 16
        mid = (lo + hi) // 2
        return mid, mid + span

    o_pred = mid_range(bounds.mn_o, bounds.mx_o)
    p_pred = mid_range(bounds.mn_p, bounds.mx_p)

    z_o, z_n = files_intersecting(paths["zorder"], "l_orderkey", *o_pred)
    z_p, _ = files_intersecting(paths["zorder"], "l_partkey", *p_pred)
    l_o, l_n = files_intersecting(paths["linear"], "l_orderkey", *o_pred)
    l_p, _ = files_intersecting(paths["linear"], "l_partkey", *p_pred)

    # linear prunes orderkey hard but partkey not at all (every file spans
    # the full partkey domain); the z-grid prunes BOTH to at most 2 of the
    # 4 tile-columns (a 1/16-span predicate straddles at most 2 quadrant
    # rows/cols) = half the files. The scale claim is the WORST dimension:
    # linear's worst is a full scan, z-order's stays bounded.
    assert z_n == n_files and l_n == n_files, (z_n, l_n)
    assert l_o <= z_o, (l_o, z_o)
    assert l_p == l_n, (l_p, l_n)
    assert z_o <= z_n // 2, (z_o, z_n)
    assert z_p <= z_n // 2, (z_p, z_n)
    assert max(z_o, z_p) < max(l_o, l_p), ((z_o, z_p), (l_o, l_p))


def test_bpe_merge_rules_hand_corpus(spark):
    # Hand-checkable corpus: "a a a b" x2 and "a b c" x1.
    #   round 1: pairs {a a:4, a b:3, b c:1} -> merge (a, a)
    #            ("a a a b" -> "(aa) a b": left-to-right non-overlap)
    #   round 2: pairs {aa_a:2, a b:3, b c:1} -> merge (a, b)
    #   round 3: {aa (ab):2, (ab) c:1} -> merge aa_a{J}b... top is (aa, ab) x2
    from hadoop_word_score_spark.operators.bpe import JOINER, learn_merge_rules

    docs = spark.createDataFrame(
        [("a a a b",), ("a a a b",), ("a b c",)], schema="txt string"
    )
    rules = learn_merge_rules(docs, "txt", n_rules=3)
    aa = f"a{JOINER}a"
    ab = f"a{JOINER}b"
    assert rules == [
        (1, "a a", 4),
        (2, "a b", 3),
        (3, f"{aa} {ab}", 2),
    ], rules


def test_bpe_merge_is_left_to_right_nonoverlapping(spark):
    # "a a a a a" must merge as "(aa) (aa) a" — 2 disjoint occurrences
    # consumed left to right, never the overlapping 4.
    from hadoop_word_score_spark.operators.bpe import learn_merge_rules

    docs = spark.createDataFrame([("a a a a a",)], schema="txt string")
    rules = learn_merge_rules(docs, "txt", n_rules=2)
    assert rules[0] == (1, "a a", 4)  # pre-merge count of the adjacent pair
    # post-merge corpus is "(aa) (aa) a": top-2 pair is (aa, aa) x1
    assert rules[1][2] == 1, rules


def test_covariance_partials_match_numpy(spark):
    # The fixed-size sufficient statistics must reproduce numpy's population
    # covariance and mean exactly (float64 partials over float32 input).
    import numpy as np

    from hadoop_word_score_spark.operators.linalg import covariance_matrix

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cov, mean, n = covariance_matrix(em, "embedding", 64)
    m = np.stack([r.embedding for r in em.select("embedding").collect()]).astype(
        np.float64
    )
    assert n == m.shape[0]
    assert np.allclose(mean, m.mean(axis=0), atol=1e-12)
    assert np.allclose(cov, np.cov(m.T, bias=True), atol=1e-10)


def test_pca_project_preserves_topk_variance(spark):
    # Projection consistency: mean squared norm of projected centered
    # vectors == sum of the captured eigenvalues, and components are
    # orthonormal.
    import numpy as np

    from hadoop_word_score_spark.operators.linalg import (
        covariance_matrix,
        pca_fit,
        pca_project,
    )

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cov, mean, n = covariance_matrix(em, "embedding", 64)
    eigvals, comp = pca_fit(cov, 8)
    assert np.allclose(comp @ comp.T, np.eye(8), atol=1e-10)
    proj = pca_project(em, "embedding", comp, mean)
    rows = proj.collect()
    assert len(rows) == n and len(rows[0].proj) == 8
    p = np.stack([r.proj for r in rows])
    assert np.isclose((p**2).sum(axis=1).mean(), eigvals.sum(), rtol=1e-9)


def test_zorder_key_n_is_a_bijection_and_matches_2d(spark):
    # Exhaustive over a 16x16 grid: the interleave is a bijection onto
    # [0, 256) and the n-d generalization reproduces the 2-d key bit for
    # bit; 3-d keys stay a bijection over a 8^3 grid.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.layout import zorder_key, zorder_key_n

    grid = spark.range(256).select(
        (F.col("id") / 16).cast("long").alias("x"),
        (F.col("id") % 16).alias("y"),
    )
    out = grid.select(
        zorder_key(F.col("x"), F.col("y"), 4).alias("z2"),
        zorder_key_n([F.col("x"), F.col("y")], 4).alias("zn"),
    ).collect()
    assert all(r.z2 == r.zn for r in out)
    zs = sorted(r.z2 for r in out)
    assert zs == list(range(256))

    g3 = spark.range(512).select(
        (F.col("id") / 64).cast("long").alias("x"),
        ((F.col("id") / 8) % 8).cast("long").alias("y"),
        (F.col("id") % 8).alias("w"),
    )
    z3 = sorted(
        r.z
        for r in g3.select(
            zorder_key_n([F.col("x"), F.col("y"), F.col("w")], 3).alias("z")
        ).collect()
    )
    assert z3 == list(range(512))


def test_leakage_safe_split_no_pair_straddles(spark):
    # The property the split exists for: NO near-dup pair may cross the
    # train/eval boundary (a leaked near-dup inflates eval metrics). Check
    # every exact-Jaccard pair's endpoints land in the same split.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.dedup import (
        dedup_components,
        ngram_jaccard_pairs,
    )
    from hadoop_word_score_spark.plans.queries import _hash_bucket
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_ORACLE

    d = load_table(spark, SF_ORACLE, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5)
    assert pairs.count() > 0, "fixture should contain near-dups"
    clusters = dedup_components(pairs).withColumnRenamed("id", "doc_id")
    assigned = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster", F.col("doc_id")).alias("root"))
        .select("doc_id", (_hash_bucket(F.col("root")) < 10).alias("is_eval"))
    )
    a = assigned.withColumnRenamed("doc_id", "id_a").withColumnRenamed("is_eval", "eval_a")
    b = assigned.withColumnRenamed("doc_id", "id_b").withColumnRenamed("is_eval", "eval_b")
    straddlers = (
        pairs.join(a, "id_a").join(b, "id_b").filter(F.col("eval_a") != F.col("eval_b"))
    )
    assert straddlers.count() == 0
    # and the naive per-doc split WOULD leak on this corpus — the reason
    # the cluster-aware split exists
    naive = pairs.select(
        (_hash_bucket(F.col("id_a")) < 10).alias("ea"),
        (_hash_bucket(F.col("id_b")) < 10).alias("eb"),
    ).filter(F.col("ea") != F.col("eb"))
    assert naive.count() > 0


def test_covariance_rounded_hash_stable_across_partitionings(spark):
    # CORRECTNESS_r06 postmortem: the 6-dp rounded covariance flipped the
    # driver's value hash when fp summation order shifted. The shipped 3-dp
    # output must be bit-identical however the partials are grouped — 1, 7,
    # and 32 input partitions produce different per-partition (n, Σx, Σxxᵀ)
    # partials and different F.sum merge orders.
    from hadoop_word_score_spark.operators.linalg import covariance_upper_rounded

    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    outs = [
        tuple(
            (r.i, r.j, r.cov)
            for r in covariance_upper_rounded(
                em.repartition(k), "embedding", 64
            ).collect()
        )
        for k in (1, 7, 32)
    ]
    assert len(outs[0]) == 64 * 65 // 2
    assert outs[0] == outs[1] == outs[2]


def test_subword_bpe_reproduces_sennrich_example(spark):
    # The textbook corpus from Sennrich et al. 2016 (§3.2): low x5,
    # lower x2, newest x6, widest x3. First three merges are es -> est ->
    # est</w>, each with weighted count 9 (ties at 9 break by pair text:
    # "e s" < "s t" < "t </w>").
    from hadoop_word_score_spark.operators.bpe import learn_subword_rules

    docs = spark.createDataFrame(
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3,
        schema="txt string",
    )
    assert learn_subword_rules(docs, "txt", 3) == [
        (1, "e s", 9),
        (2, "es t", 9),
        (3, "est </w>", 9),
    ]


def test_subword_merges_stay_within_words_and_stop_when_dry(spark):
    # "ab ab ab": rounds run over the vocab relation {ab: 3}, which has no
    # cross-word adjacency — (b, a) across "ab|ab" can never be counted.
    # Round 1 merges (a, b) x3 (tie with (b, </w>) breaks by pair text),
    # round 2 absorbs </w>; round 3 finds single-symbol words only and the
    # loop terminates early instead of fabricating a rule.
    from hadoop_word_score_spark.operators.bpe import learn_subword_rules

    docs = spark.createDataFrame([("ab ab ab",)], schema="txt string")
    assert learn_subword_rules(docs, "txt", 3) == [
        (1, "a b", 3),
        (2, "ab </w>", 3),
    ]


def test_bpe_encode_corpus_hand_and_vocab_parity(spark):
    # Sennrich multiplicities as documents: rules after 3 rounds are
    # es -> est -> est</w>, so low = [l,o,w,</w>] (4), lower = 6,
    # newest = [n,e,w,est</w>] (4), widest = 4. Per-doc sums follow; and
    # the corpus path must agree with the vocab path's freq-weighted total
    # (the </w> boundary invariant encode_corpus is built on).
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.bpe import (
        _tokens,
        apply_merge_rules,
        encode_corpus,
        learn_subword_rules,
        subword_vocab,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2)),
         (2, " ".join(["newest"] * 6 + ["widest"] * 3))],
        schema="doc_id int, txt string",
    )
    vocab = subword_vocab(docs, "txt")
    rules = learn_subword_rules(docs, "txt", 3, vocab=vocab)
    assert [r[1] for r in rules] == ["e s", "es t", "est </w>"]
    out = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in encode_corpus(docs, "doc_id", "txt", rules, vocab=vocab).collect()
    }
    assert out == {1: (7, 5 * 4 + 2 * 6), 2: (9, 6 * 4 + 3 * 4)}

    weighted = (
        vocab.select(
            (F.size(_tokens(apply_merge_rules(F.col("sym"), rules)))
             * F.col("freq")).alias("t")
        ).agg(F.sum("t")).collect()[0][0]
    )
    assert weighted == sum(v[1] for v in out.values()) == 68


def test_bpe_encode_corpus_matches_vocab_path_on_real_docs(spark):
    # fit/apply parity at corpus scale (sf0.001): the per-document path and
    # the vocab-length-distribution path are two plans over the same
    # algorithm — their corpus-wide token totals must be identical.
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.bpe import (
        _tokens,
        apply_merge_rules,
        encode_corpus,
        learn_subword_rules,
        subword_vocab,
    )
    from hadoop_word_score_spark.sources.registry import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    docs = d.select(
        "doc_id", F.array_join(F.expr(tokens_expr("text")), " ").alias("txt")
    )
    vocab = subword_vocab(docs, "txt")
    rules = learn_subword_rules(docs, "txt", 3, vocab=vocab)
    per_doc = encode_corpus(docs, "doc_id", "txt", rules, vocab=vocab)
    total_docs = per_doc.agg(
        F.sum("n_bpe_tokens").alias("t"), F.sum("n_words").alias("w")
    ).collect()[0]
    vocab_side = vocab.select(
        (F.size(_tokens(apply_merge_rules(F.col("sym"), rules)))
         * F.col("freq")).alias("t"),
        F.col("freq"),
    ).agg(F.sum("t"), F.sum("freq")).collect()[0]
    assert total_docs["t"] == vocab_side[0]
    assert total_docs["w"] == vocab_side[1]
    # merges strictly compress: fewer tokens than raw symbols, never fewer
    # than one per word
    assert total_docs["w"] <= total_docs["t"]


def test_bpe_encode_ids_reconstruct_and_guard(spark):
    # ids are a lossless re-coding of the subword sequences (decode through
    # the id table == token_seq), and a truncated caller-supplied id_vocab
    # fails fast instead of silently dropping subwords (same contract as
    # the word vocab guard).
    import pytest

    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus_ids,
        encode_corpus_sequences,
        learn_subword_rules,
        subword_id_vocab,
        subword_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low newest"), (3, "widest low")],
        ["doc_id", "text"],
    )
    vocab = subword_vocab(docs, "text")
    rules = learn_subword_rules(docs, "text", 5, vocab=vocab)
    idv = subword_id_vocab(vocab, rules)
    decode = {r.sid: r.subword for r in idv.collect()}
    seqs = {
        r.doc_id: r.token_seq
        for r in encode_corpus_sequences(
            docs, "doc_id", "text", rules, vocab=vocab
        ).collect()
    }
    got = encode_corpus_ids(
        docs, "doc_id", "text", rules, vocab=vocab, id_vocab=idv
    ).collect()
    assert len(got) == len(seqs)
    for r in got:
        assert r.n_bpe_tokens == len(r.token_ids)
        assert " ".join(decode[i] for i in r.token_ids) == seqs[r.doc_id]

    truncated = idv.filter(idv.sid <= 2)  # drops real subwords
    with pytest.raises(Exception, match="subword absent from the supplied"):
        encode_corpus_ids(
            docs, "doc_id", "text", rules, vocab=vocab, id_vocab=truncated
        ).collect()


def test_bpe_oov_byte_fallback_roundtrip(spark):
    # oov='bytes' (r13 verdict #4): encoding a HELD-OUT corpus under a
    # training vocab never refuses — unseen subwords resolve to reserved
    # UTF-8 byte ids (byte+1, ids 1..256; corpus ids shifted past 256) and
    # decode losslessly through the same table. Also pins the byte-row
    # collision fix: a single-char corpus subword equals a byte row's text,
    # and the encode join must emit its (shifted) corpus id exactly once.
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.operators.bpe import (
        decode_corpus_ids,
        encode_corpus_ids,
        learn_subword_rules,
        subword_id_vocab,
        subword_vocab,
    )

    train = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        ["doc_id", "text"],
    )
    held = spark.createDataFrame(
        [(10, "low lowly zebra! new"), (11, "quixotic lowest")],
        ["doc_id", "text"],
    )
    vocab = subword_vocab(train, "text")
    rules = learn_subword_rules(train, "text", 3, vocab=vocab)
    idv = subword_id_vocab(vocab, rules, oov="bytes")
    lo, hi = idv.agg(F.min("sid"), F.max("sid")).collect()[0]
    assert lo == 1 and hi > 256  # byte reserve + shifted corpus ids
    enc = encode_corpus_ids(
        held, "doc_id", "text", rules, id_vocab=idv, oov="bytes"
    )
    rows = {r.doc_id: r for r in enc.collect()}
    all_ids = [i for r in rows.values() for i in r.token_ids]
    assert any(i <= 256 for i in all_ids)  # fallback actually exercised
    assert any(i > 256 for i in all_ids)  # matched subwords keep corpus ids
    got = {r.doc_id: r.text
           for r in decode_corpus_ids(enc, idv, oov="bytes").collect()}
    assert got[10] == "low lowly zebra! new"
    assert got[11] == "quixotic lowest"
    # multi-byte UTF-8 split across byte-fallback ids reassembles EXACTLY
    # (hex assembly + one UTF-8 decode per doc — no Latin-1 approximation)
    mb = spark.createDataFrame(
        [(20, "naïve café 日本語 low!")],
        ["doc_id", "text"],
    )
    enc_mb = encode_corpus_ids(
        mb, "doc_id", "text", rules, id_vocab=idv, oov="bytes"
    )
    dec_mb = decode_corpus_ids(enc_mb, idv, oov="bytes").collect()[0]
    assert dec_mb.text == "naïve café 日本語 low!"
    # decoding byte-reserve ids in the default mode fails fast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="byte reserve"):
        decode_corpus_ids(enc, idv).collect()
    # single-emission pin: the known word "low" encodes identically with
    # and without the byte reserve active
    base_ids = {
        r.doc_id: r.n_bpe_tokens
        for r in encode_corpus_ids(
            train, "doc_id", "text", rules, vocab=vocab
        ).collect()
    }
    oov_ids = {
        r.doc_id: r.n_bpe_tokens
        for r in encode_corpus_ids(
            train, "doc_id", "text", rules, id_vocab=idv, oov="bytes"
        ).collect()
    }
    assert base_ids == oov_ids


def test_byte_fallback_ids_empty_and_null(spark):
    # r14 advice: sequence(1, 0) infers step -1 and yields [1, 0], so an
    # empty string produced two null ids from this exported helper; pin
    # empty -> [] and null -> null (and the byte recipe itself unchanged).
    from hadoop_word_score_spark.operators.bpe import byte_fallback_ids

    df = spark.createDataFrame(
        [(1, "hi"), (2, ""), (3, None), (4, "é")], ["i", "s"]
    )
    got = {r.i: r.ids for r in df.select(
        "i", byte_fallback_ids(F.col("s")).alias("ids")).collect()}
    assert got[1] == [ord("h") + 1, ord("i") + 1]
    assert got[2] == []
    assert got[3] is None
    assert got[4] == [0xC3 + 1, 0xA9 + 1]  # UTF-8 bytes of é, byte+1


def test_bpe_mode_guard_memoized(spark):
    # r14 advice: the mode guard ran a full eager collect on EVERY encode/
    # decode call. A passing verdict is now memoized by semantic plan hash,
    # so a repeat call over the same vocabulary triggers no new job.
    from hadoop_word_score_spark.operators import bpe as _bpe

    train = spark.createDataFrame([(1, "low lower low")], ["doc_id", "text"])
    vocab = _bpe.subword_vocab(train, "text")
    rules = _bpe.learn_subword_rules(train, "text", 2, vocab=vocab)
    idv = _bpe.subword_id_vocab(vocab, rules, oov="bytes").cache()
    _bpe._MODE_GUARD_OK.clear()
    _bpe._assert_id_vocab_mode(idv, "bytes", "test")
    assert len(_bpe._MODE_GUARD_OK) == 1
    # second call short-circuits before the collect: poison the filter
    # path the guard would take and prove it is never reached
    class _Boom:
        def __getattr__(self, _):
            raise AssertionError("guard re-ran its collect on a memo hit")
    poisoned = idv  # same semantic hash
    orig_filter = type(poisoned).filter
    try:
        type(poisoned).filter = lambda *a, **k: _Boom()
        _bpe._assert_id_vocab_mode(poisoned, "bytes", "test")
    finally:
        type(poisoned).filter = orig_filter
    # a DIFFERENT oov claim is a different key: the guard still fires
    with pytest.raises(ValueError, match="byte reserve"):
        _bpe._assert_id_vocab_mode(idv, None, "test")


def test_bpe_tokenizer_artifact_ships_oov_mode(spark, tmp_path):
    # A bytes-mode tokenizer must carry its byte-reserve contract through
    # persist/reload: the loaded mode feeds encode_corpus_ids directly and
    # the reloaded encode matches the in-memory one id for id.
    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus_ids,
        learn_subword_rules,
        load_bpe_tokenizer,
        persist_bpe_tokenizer,
        subword_id_vocab,
        subword_vocab,
    )

    train = spark.createDataFrame(
        [(1, "low lower lowest low")], ["doc_id", "text"]
    )
    held = spark.createDataFrame([(9, "lowly zebra")], ["doc_id", "text"])
    vocab = subword_vocab(train, "text")
    rules = learn_subword_rules(train, "text", 2, vocab=vocab)
    idv = subword_id_vocab(vocab, rules, oov="bytes")
    path = str(tmp_path / "tok_bytes")
    persist_bpe_tokenizer(path, rules, idv, oov="bytes")
    lrules, lidv, loov = load_bpe_tokenizer(spark, path)
    assert loov == "bytes"
    direct = {r.doc_id: r.token_ids for r in encode_corpus_ids(
        held, "doc_id", "text", rules, id_vocab=idv, oov="bytes").collect()}
    reloaded = {r.doc_id: r.token_ids for r in encode_corpus_ids(
        held, "doc_id", "text", lrules, id_vocab=lidv, oov=loov).collect()}
    assert direct == reloaded


def test_bpe_oov_mode_mismatch_fails_fast(spark):
    # r14 review: an unshifted id table under oov='bytes' silently
    # byte-encodes its 256 most frequent subwords (they collide with the
    # reserve); the inverse double-matches single-char subwords. Both
    # directions must refuse loudly.
    import pytest

    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus_ids,
        learn_subword_rules,
        subword_id_vocab,
        subword_vocab,
    )

    docs = spark.createDataFrame([(1, "low lower lowest")], ["doc_id", "text"])
    vocab = subword_vocab(docs, "text")
    rules = learn_subword_rules(docs, "text", 2, vocab=vocab)
    plain = subword_id_vocab(vocab, rules)
    withbytes = subword_id_vocab(vocab, rules, oov="bytes")
    with pytest.raises(ValueError, match="no byte reserve"):
        encode_corpus_ids(
            docs, "doc_id", "text", rules, id_vocab=plain, oov="bytes"
        ).collect()
    with pytest.raises(ValueError, match="byte reserve"):
        encode_corpus_ids(
            docs, "doc_id", "text", rules, id_vocab=withbytes
        ).collect()


def test_bpe_vocab_guard_survives_count_only_consumer(spark):
    # ADVICE r13: the fail-fast on a missing vocab word was a guarded
    # PROJECTION, prunable by a count-only consumer; it is now a filter.
    import pytest

    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus,
        learn_subword_rules,
        subword_vocab,
    )

    docs = spark.createDataFrame([(1, "low lower")], ["doc_id", "text"])
    vocab = subword_vocab(docs, "text")
    rules = learn_subword_rules(docs, "text", 2, vocab=vocab)
    other = spark.createDataFrame([(2, "unseen words")], ["doc_id", "text"])
    with pytest.raises(Exception, match="word absent from the supplied"):
        encode_corpus(other, "doc_id", "text", rules, vocab=vocab).count()


def test_bpe_tokenizer_artifact_roundtrip_and_guards(spark, tmp_path):
    # persist -> load -> encode must reproduce the in-memory encode exactly;
    # a tampered meta (wrong rule count / vocab size / boundary marker)
    # refuses instead of silently re-segmenting the corpus.
    import json as _json

    import pytest

    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus_ids,
        learn_subword_rules,
        load_bpe_tokenizer,
        persist_bpe_tokenizer,
        subword_id_vocab,
        subword_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low newest")], ["doc_id", "text"]
    )
    vocab = subword_vocab(docs, "text")
    rules = learn_subword_rules(docs, "text", 4, vocab=vocab)
    idv = subword_id_vocab(vocab, rules)
    path = str(tmp_path / "tok")
    persist_bpe_tokenizer(path, rules, idv)
    lrules, lidv, loov = load_bpe_tokenizer(spark, path)
    assert loov is None
    assert lrules == [(int(s), p, int(n)) for s, p, n in rules]
    want = {
        (r.doc_id, tuple(r.token_ids))
        for r in encode_corpus_ids(
            docs, "doc_id", "text", rules, vocab=vocab, id_vocab=idv
        ).collect()
    }
    got = {
        (r.doc_id, tuple(r.token_ids))
        for r in encode_corpus_ids(
            docs, "doc_id", "text", lrules, vocab=vocab, id_vocab=lidv
        ).collect()
    }
    assert got == want

    meta = _json.load(open(f"{path}/_bpe_meta.json"))
    _json.dump({**meta, "n_rules": 7}, open(f"{path}/_bpe_meta.json", "w"))
    with pytest.raises(ValueError, match="re-persist"):
        load_bpe_tokenizer(spark, path)
    _json.dump(
        {**meta, "vocab_size": meta["vocab_size"] + 1},
        open(f"{path}/_bpe_meta.json", "w"),
    )
    with pytest.raises(ValueError, match="re-persist"):
        load_bpe_tokenizer(spark, path)
    _json.dump(
        {**meta, "end_of_word": "##"}, open(f"{path}/_bpe_meta.json", "w")
    )
    with pytest.raises(ValueError, match="boundary marker"):
        load_bpe_tokenizer(spark, path)


def test_bpe_encode_sequences_reconstructs_documents(spark):
    # the tokenizer-output invariant: stripping spaces from token_seq and
    # splitting on </w> recovers the document's original whitespace tokens
    # exactly — BPE merges never cross the boundary marker. Checked on
    # real docs (sf0.001) plus the hand corpus's exact expected sequence.
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus_sequences,
        learn_subword_rules,
        subword_vocab,
    )
    from hadoop_word_score_spark.sources.registry import load_table

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2)),
         (2, " ".join(["newest"] * 6 + ["widest"] * 3))],
        schema="doc_id int, txt string",
    )
    vocab = subword_vocab(docs, "txt")
    rules = learn_subword_rules(docs, "txt", 3, vocab=vocab)
    out = {r.doc_id: r for r in
           encode_corpus_sequences(docs, "doc_id", "txt", rules, vocab=vocab).collect()}
    # low -> "l o w </w>", newest -> "n e w est</w>" after es/est/est</w>
    assert out[1].token_seq == " ".join(["l o w </w>"] * 5 + ["l o w e r </w>"] * 2)
    assert out[2].token_seq == " ".join(["n e w est</w>"] * 6 + ["w i d est</w>"] * 3)
    assert out[1].n_bpe_tokens == 5 * 4 + 2 * 6
    assert out[2].n_bpe_tokens == 6 * 4 + 3 * 4

    d = load_table(spark, SF_SMOKE, "documents").limit(50)
    real = d.select(
        "doc_id", F.array_join(F.expr(tokens_expr("text")), " ").alias("txt")
    )
    rvocab = subword_vocab(real, "txt")
    rrules = learn_subword_rules(real, "txt", 3, vocab=rvocab)
    seqs = {r.doc_id: r.token_seq for r in
            encode_corpus_sequences(real, "doc_id", "txt", rrules, vocab=rvocab).collect()}
    originals = {r.doc_id: r.txt for r in real.collect()}
    assert set(seqs) == set(originals)
    for doc_id, seq in seqs.items():
        rebuilt = seq.replace(" ", "").split("</w>")
        assert rebuilt[-1] == ""  # every word ends with the marker
        assert rebuilt[:-1] == originals[doc_id].split(" ")


def test_pack_sequences_consume_bpe_ids_end_to_end(spark):
    # r12 verdict #3: the packer consumes REAL tokenizer output — integer
    # id sequences, not whitespace counts. Chain encode_corpus_ids into the
    # pack_sequences concat-and-split recipe and pin: per-doc id counts
    # match encode_corpus's lengths (same vocab, same rules), the id space
    # is exactly 1..|subword vocab|, and stream offsets are the prefix sums
    # of the id sequence lengths within each source shard.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tests.conftest import SF_SMOKE

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus,
        encode_corpus_ids,
        learn_subword_rules,
        subword_id_vocab,
        subword_vocab,
    )
    from hadoop_word_score_spark.sources.registry import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    docs = d.select(
        "doc_id", "source",
        F.array_join(F.expr(tokens_expr("text")), " ").alias("txt"),
    )
    vocab = subword_vocab(docs, "txt")
    rules = learn_subword_rules(docs, "txt", 3, vocab=vocab)
    idv = subword_id_vocab(vocab, rules)
    ids = encode_corpus_ids(
        docs, "doc_id", "txt", rules, vocab=vocab, id_vocab=idv
    )

    # length parity with the count-only encoder (same </w> invariant)
    lens = encode_corpus(docs, "doc_id", "txt", rules, vocab=vocab)
    mismatched = (
        ids.join(lens, "doc_id")
        .filter(ids.n_bpe_tokens != lens.n_bpe_tokens)
        .count()
    )
    assert mismatched == 0

    # dense frequency-ranked id space: every id in 1..V appears in the vocab
    n_vocab = idv.count()
    lo, hi, n_distinct = idv.agg(
        F.min("sid"), F.max("sid"), F.count_distinct("sid")
    ).first()
    assert (lo, hi, n_distinct) == (1, n_vocab, n_vocab)
    used_lo, used_hi = ids.select(
        F.min(F.array_min("token_ids")), F.max(F.array_max("token_ids"))
    ).first()
    assert used_lo >= 1 and used_hi <= n_vocab

    # pack the id streams: offset = prefix sum of id-sequence lengths per
    # source shard, bin = offset DIV capacity (the pack_sequences recipe)
    capacity = 2048
    sized = docs.select("doc_id", "source").join(ids, "doc_id")
    w = Window.partitionBy("source").orderBy("doc_id")
    packed = sized.select(
        "source", "doc_id", "n_bpe_tokens",
        (F.sum("n_bpe_tokens").over(w) - F.col("n_bpe_tokens")).alias("off"),
    ).withColumn("bin_id", F.expr(f"CAST(off DIV {capacity} AS BIGINT)"))
    rows = packed.orderBy("source", "doc_id").collect()
    assert len(rows) == sized.count()
    cum: dict = {}
    for r in rows:
        assert r.off == cum.get(r.source, 0)  # contiguous stream, no gaps
        assert r.bin_id == r.off // capacity
        cum[r.source] = r.off + r.n_bpe_tokens
    assert sum(cum.values()) == (
        ids.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    )


def test_pack_segments_tiles_bins_and_documents_exactly(spark):
    # hand corpus with a boundary-straddling doc, then tiling invariants:
    # within each (stream, bin) the segments cover [0, capacity) (or the
    # stream tail) with no gaps or overlaps, and within each doc the
    # segments cover [0, n_tokens) in order; zero-token docs emit nothing.
    import pytest

    from hadoop_word_score_spark.operators.packing import pack_segments

    rows = [("s", 1, 3), ("s", 2, 6), ("s", 3, 0), ("s", 4, 9), ("t", 5, 4)]
    sized = spark.createDataFrame(
        rows, "source string, doc_id long, n_tokens long"
    )
    out = pack_segments(sized, capacity=4)
    got = {
        (r.source, r.bin_id, r.doc_id): (r.bin_offset, r.doc_offset, r.seg_len)
        for r in out.collect()
    }
    # stream s: offsets 0(3) 3(6) -(0) 9(9); cap 4
    assert got == {
        ("s", 0, 1): (0, 0, 3),   # doc1 fills bin0[0:3)
        ("s", 0, 2): (3, 0, 1),   # doc2 straddles: 1 token ends bin0
        ("s", 1, 2): (0, 1, 4),   # ...4 tokens fill bin1
        ("s", 2, 2): (0, 5, 1),   # ...1 token starts bin2
        ("s", 2, 4): (1, 0, 3),   # doc4 continues bin2
        ("s", 3, 4): (0, 3, 4),   # fills bin3
        ("s", 4, 4): (0, 7, 2),   # tail bin
        ("t", 0, 5): (0, 0, 4),   # independent stream
    }

    # invariants on real docs: bins tile, docs tile
    from tests.conftest import SF_SMOKE

    from hadoop_word_score_spark.functions.text import token_count_ws
    from hadoop_word_score_spark.sources.registry import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    sized_r = d.select(
        "source", "doc_id", token_count_ws("text").alias("n_tokens")
    )
    cap = 512
    segs = pack_segments(sized_r, capacity=cap).collect()
    by_bin: dict = {}
    by_doc: dict = {}
    for r in segs:
        by_bin.setdefault((r.source, r.bin_id), []).append(
            (r.bin_offset, r.seg_len)
        )
        by_doc.setdefault(r.doc_id, []).append((r.doc_offset, r.seg_len))
    for (src, b), parts in by_bin.items():
        parts.sort()
        pos = 0
        for off, ln in parts:
            assert off == pos and ln > 0
            pos += ln
        last_bin = max(bb for (ss, bb) in by_bin if ss == src)
        assert pos == cap or b == last_bin
    n_of = {
        r.doc_id: r.n_tokens
        for r in sized_r.filter(F.col("n_tokens") > 0).collect()
    }
    assert set(by_doc) == set(n_of)
    for did, parts in by_doc.items():
        parts.sort()
        pos = 0
        for off, ln in parts:
            assert off == pos
            pos += ln
        assert pos == n_of[did]

    with pytest.raises(ValueError, match="capacity"):
        pack_segments(sized, capacity=0)


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    # Undirected star a-b, a-c, a-d: rank mass stays exactly 1.0 per round
    # (no dangling nodes by construction) and the hub outranks the leaves,
    # which tie. A 4-cycle (regular graph) must stay uniform.
    from hadoop_word_score_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [("a", x) for x in "bcd"] + [(x, "a") for x in "bcd"],
        "src string, dst string",
    )
    r = {x.node: x.rank for x in pagerank(star, iterations=5).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-12
    assert r["a"] > r["b"] == r["c"] == r["d"]

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
         ("b", "a"), ("c", "b"), ("d", "c"), ("a", "d")],
        "src string, dst string",
    )
    rc = [x.rank for x in pagerank(cycle, iterations=4).collect()]
    assert all(abs(v - 0.25) < 1e-12 for v in rc)


def test_pagerank_build_jobs_do_not_grow_with_iterations(spark):
    # PageRank's fixed rounds are one lazy plan over the edge and node pins:
    # building it runs the same Spark jobs at 3 and at 10 iterations,
    # counted from the status store as the bench counts them
    import bench

    from hadoop_word_score_spark.operators.graph import pagerank

    path = spark.createDataFrame([(i, i + 1) for i in range(11)], "src int, dst int")
    und = path.union(path.select("dst", "src"))
    collector = bench._collector(spark)

    def jobs(iterations: int) -> float:
        def body() -> None:
            pagerank(und, iterations=iterations)

        _, rec = bench._trial(collector, body, read=True)
        return rec["driver.jobs"]

    assert jobs(3) == jobs(10) > 0


def test_cms_overestimates_and_is_exact_for_isolated_terms(spark):
    # CMS invariants on the real corpus: every estimate >= the true count
    # (each occurrence increments every probed cell), and the estimate is
    # EXACT whenever none of a term's 4 cells collides with other mass —
    # checked structurally: estimate error equals the colliding mass of
    # the min cell, which for a 1024-wide sketch on the smoke vocabulary
    # leaves most top terms exact.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.functions.hashing import tokens_expr
    from hadoop_word_score_spark.operators.frequent import cms_estimates
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    tokens = d.select(F.explode(F.expr(tokens_expr("text"))).alias("term"))
    exact = tokens.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = exact.orderBy(F.desc("n"), F.asc("term")).limit(30)
    est = {r.term: r.n_cms for r in cms_estimates(tokens, top.select("term")).collect()}
    true = {r.term: r.n for r in top.collect()}
    assert set(est) == set(true)
    assert all(est[t] >= true[t] for t in true)
    # the sketch is informative, not saturated: most estimates are exact
    exact_frac = sum(est[t] == true[t] for t in true) / len(true)
    assert exact_frac >= 0.5, (exact_frac, est, true)


def test_cms_bucket_matches_pure_python_md5(spark):
    # The seeded bucket hash is the oracle contract: Spark's
    # conv(substr(md5("i:term"))) must equal pure-Python md5 of the same
    # UTF-8 key for every row — including unicode, spaces, the seed
    # separator itself, and long terms.
    import hashlib

    from hadoop_word_score_spark.operators.frequent import _cms_bucket

    terms = ["the", "naïve", "a b", "x" * 100, "0", ":", "i:term"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    for i in (0, 3):
        got = {
            r.term: r.b
            for r in df.select(
                "term", _cms_bucket(F.lit(i), F.col("term"), 1024).alias("b")
            ).collect()
        }
        for t in terms:
            want = int(hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:8], 16) % 1024
            assert got[t] == want, (i, t, got[t], want)


def test_kmeans_fit_separates_planted_clusters(spark):
    from hadoop_word_score_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    # two well-separated planted blobs in 4-d; k=2 must recover them
    rows = [(i, [10.0 + (i % 3) * 0.1, 10.0, 0.0, 0.0]) for i in range(20)]
    rows += [(100 + i, [-10.0, -10.0 - (i % 3) * 0.1, 0.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = kmeans_fit(df, "vec", "id", k=2, iterations=3)
    assigned = kmeans_assign(df, "vec", cents).collect()
    by_cluster = {}
    for r in assigned:
        by_cluster.setdefault(r.cluster, set()).add(r.id)
    groups = sorted(by_cluster.values(), key=len)
    assert [len(g) for g in groups] == [20, 20]
    assert {i for i in range(20)} in groups
    # mean sqdist within a recovered blob is tiny (spread 0.1)
    for r in assigned:
        assert r.sqdist < 0.05


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from hadoop_word_score_spark.operators.clustering import kmeans_fit

    # 3 seeds over 3 identical far points + nothing near seed 2 after the
    # first update: duplicate points collapse onto one centroid and the
    # starved slots keep their previous (seed) centroid instead of NaN-ing
    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [100.0, 100.0]),
            (3, [100.0, 100.0]), (4, [100.0, 100.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = kmeans_fit(df, "vec", "id", k=3, iterations=2)
    assert len(cents) == 3
    for _, vec in cents:
        assert all(v == v for v in vec)  # no NaN anywhere


def test_kmeans_assignment_is_narrow(spark):
    # the 100 TB contract: assignment is a literal-centroid codegen pass —
    # no Exchange, no join in the assigned relation's plan
    from hadoop_word_score_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    em = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_fit(em, "embedding", "vec_id", k=4, iterations=1)
    plan = (
        kmeans_assign(em, "embedding", cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_kmeans_fit_invariant_under_partitioning(spark):
    # The determinism contract behind the oracle: per-round 4-dp centroid
    # quantization swallows summation-order noise, so the SAME corpus in a
    # different physical layout (partition count, row order) fits
    # BIT-IDENTICAL centroids — the property that makes k-means
    # hash-checkable across engines at all.
    from hadoop_word_score_spark.operators.clustering import kmeans_fit
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    em = load_table(spark, SF_SMOKE, "embeddings")
    a = kmeans_fit(em, "embedding", "vec_id", k=4, iterations=2)
    b = kmeans_fit(em.repartition(17), "embedding", "vec_id", k=4, iterations=2)
    c = kmeans_fit(
        em.orderBy(F.desc("vec_id")).coalesce(1),
        "embedding", "vec_id", k=4, iterations=2,
    )
    assert a == b == c


def _docs_sf(spark, tmpdir, rows):
    from tests.conftest import stage_documents_sf

    return stage_documents_sf(spark, tmpdir, rows)


def test_containment_detects_embedded_document(spark, tmp_path):
    # the asymmetric contract: A's text embedded verbatim inside a larger B
    # gives containment 1.0 even though symmetric Jaccard is diluted — the
    # case this operator exists for
    from hadoop_word_score_spark.plans.queries import REGISTRY

    a_text = " ".join(f"tok{i}" for i in range(20))
    b_text = a_text + " " + " ".join(f"extra{i}" for i in range(20))
    c_text = " ".join(f"other{i}" for i in range(25))
    sf = _docs_sf(spark, str(tmp_path), [a_text, b_text, c_text])
    rows = REGISTRY["dedup_containment"].fn(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    # every shingle of A appears in B: inter == |A| == min(|A|, |B|)
    assert r.inter == r.n_a == 18
    assert r.containment == 1.0
    # while Jaccard over the same profiles is diluted well below the 0.5 bar
    assert r.inter / (r.n_a + r.n_b - r.inter) < 0.5


def test_pmi_positive_for_glued_pair_and_no_phantom_pairs(spark, tmp_path):
    # a pair that always co-occurs adjacently scores positive PMI; pairs
    # that never occur adjacently produce no row at all
    from hadoop_word_score_spark.plans.queries import REGISTRY

    glued = "aa bb " * 10          # "aa bb" x10, "bb aa" x9
    filler = "xx yy zz " * 10      # independent background tokens
    sf = _docs_sf(spark, str(tmp_path), [glued.strip(), filler.strip()])
    got = {(r.w1, r.w2): r for r in REGISTRY["pmi_collocations"].fn(spark, sf).collect()}
    assert ("aa", "bb") in got
    assert got[("aa", "bb")].n_xy == 10
    assert got[("aa", "bb")].pmi > 0.0
    assert ("aa", "xx") not in got  # never adjacent -> no row, not PMI=-inf


def test_semantic_dup_pairs_match_numpy_within_cluster_reference(spark):
    # The Arrow gram-matrix pair pass (operators/semdedup.py) must agree
    # with a direct numpy all-pairs cosine computed within the SAME fitted
    # clusters: same pair set (id_a < id_b), same 6-dp cosines, and no
    # cross-cluster pair ever emitted.
    import numpy as np

    from hadoop_word_score_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from hadoop_word_score_spark.operators.semdedup import semantic_dup_pairs

    rng = np.random.RandomState(7)
    base_a = rng.rand(6) + 0.5
    base_b = -(rng.rand(6) + 0.5)
    rows = []
    for i in range(8):  # blob A: tiny perturbations => high mutual cosine
        rows.append((i, (base_a + rng.rand(6) * 0.01).tolist()))
    for i in range(8):  # blob B: same shape, opposite orthant
        rows.append((100 + i, (base_b + rng.rand(6) * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.cluster, r.id_a, r.id_b): r.cosine_sim
        for r in semantic_dup_pairs(df, k=2, iterations=2, threshold=0.9).collect()
    }

    cents = kmeans_fit(df, "embedding", "vec_id", k=2, iterations=2)
    asg = {r.vec_id: r.cluster
           for r in kmeans_assign(df, "embedding", cents).collect()}
    vecs = {i: np.array(v, dtype=np.float64) for i, v in rows}
    want = {}
    ids = sorted(vecs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if asg[a] != asg[b]:
                continue
            va, vb = vecs[a], vecs[b]
            cos = float(np.round(
                va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)), 6
            ) + 0.0)
            if cos >= 0.9:
                want[(asg[a], a, b)] = cos
    assert got == want
    assert want, "fixture must actually produce in-cluster dup pairs"
    # both blobs are internally near-parallel: every in-cluster pair dups
    assert len(want) == 2 * (8 * 7 // 2)


def test_semantic_dup_pairs_drop_zero_norm_and_order_ids(spark):
    # a zero-norm vector has no defined cosine: the old nullif contract
    # dropped it via null propagation, the gram-matrix pass via isfinite —
    # either way it must never appear in a pair; and id_a < id_b always.
    from hadoop_word_score_spark.operators.semdedup import semantic_dup_pairs

    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 0.0]),
        (4, [0.999, 0.002]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dup_pairs(df, k=1, iterations=1, threshold=0.5).collect()
    assert pairs, "near-parallel non-zero vectors must pair"
    for r in pairs:
        assert r.id_a < r.id_b
        assert 3 not in (r.id_a, r.id_b)
        assert 0.5 <= r.cosine_sim <= 1.0


def test_semantic_dedup_summary_counts_are_consistent(spark):
    # n_dropped counts DISTINCT id_b (a vector pruned once, however many
    # lower-id neighbours clear the threshold), n_kept the complement, and
    # zero-pair clusters still get a row with zero counts.
    from hadoop_word_score_spark.operators.semdedup import (
        semantic_dedup_summary,
        semantic_dup_pairs,
    )

    rows = [(i, [1.0 + 0.001 * i, 2.0]) for i in range(6)]
    rows += [(100 + i, [float(i + 1) * (1 if i % 2 else -1), 0.5]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    summ = {r.cluster: r for r in
            semantic_dedup_summary(df, k=3, iterations=2, threshold=0.999).collect()}
    pairs = semantic_dup_pairs(df, k=3, iterations=2, threshold=0.999).collect()
    dropped_by_cluster = {}
    npairs_by_cluster = {}
    for r in pairs:
        dropped_by_cluster.setdefault(r.cluster, set()).add(r.id_b)
        npairs_by_cluster[r.cluster] = npairs_by_cluster.get(r.cluster, 0) + 1
    assert len(summ) == 3  # every fitted cluster reports, pairs or not
    total_vectors = 0
    for cl, row in summ.items():
        total_vectors += row.n_vectors
        assert row.n_dup_pairs == npairs_by_cluster.get(cl, 0)
        assert row.n_dropped == len(dropped_by_cluster.get(cl, set()))
        assert row.n_kept == row.n_vectors - row.n_dropped
    assert total_vectors == len(rows)


def test_cluster_canonical_keeps_richest_member_not_min_id(spark, tmp_path):
    # Survivor selection must pick the member with the most distinct tokens,
    # NOT the min-id default every other dedup entry uses — and tie-break to
    # the lowest id. doc0/doc1/doc2 are mutual near-dups (Jaccard >= 0.5 on
    # 3-gram shingles); doc2 carries extra unique vocabulary, so it is the
    # canonical pick despite having the highest id. doc3 is unrelated and
    # must not appear at all (no singleton clusters).
    from hadoop_word_score_spark.plans.queries import REGISTRY

    base = " ".join(f"tok{i}" for i in range(30))
    rich = base + " rare1 rare2 rare3"
    other = " ".join(f"zzz{i}" for i in range(25))
    sf = _docs_sf(spark, str(tmp_path), [base, base, rich, other])
    rows = REGISTRY["dedup_cluster_canonical"].fn(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.cluster == 0          # component label = min member id
    assert r.canon_id == 2         # richest member wins, not min id
    assert r.canon_types == 33     # 30 shared + 3 rare tokens
    assert r.n_members == 3
    # tie case: identical texts — lowest id wins deterministically
    sf2 = _docs_sf(spark, str(tmp_path / "t2"), [base, base])
    rows2 = REGISTRY["dedup_cluster_canonical"].fn(spark, sf2).collect()
    assert [(r.cluster, r.canon_id, r.n_members) for r in rows2] == [(0, 0, 2)]


def test_semantic_dup_pairs_null_and_ragged_vectors_degrade_not_crash(spark):
    # Pre-r9 the HOF cosine null-propagated NULL vectors and mismatched
    # lengths out of the pair set; the gram-matrix pass must degrade the
    # same way (drop them), not crash np.array on a ragged column
    # (r9 review, confirmed repro). Same-length vectors still pair — across
    # lengths never.
    from hadoop_word_score_spark.operators.semdedup import semantic_dup_pairs

    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.001]),      # 2-d near-parallel pair
        (3, None), (4, None),                     # null vectors
        (5, [1.0, 0.0, 0.0]), (6, [1.0, 0.001, 0.0]),  # 3-d pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dup_pairs(df, k=1, iterations=0, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(1, 2), (5, 6)}


def test_dedup_rate_by_source_counts_members_and_dropped(spark, tmp_path):
    # doc0/doc1 near-dup (one cluster, doc1 dropped); doc2/doc3 unique.
    # stage_documents_sf assigns source="test" to all rows, so assert the
    # single-source rollup: 4 docs, 2 dup members, 1 dropped, rate 0.5.
    from hadoop_word_score_spark.plans.queries import REGISTRY

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [base, base + " tail1", " ".join(f"aaa{i}" for i in range(25)),
            " ".join(f"bbb{i}" for i in range(25))]
    sf = _docs_sf(spark, str(tmp_path), rows)
    got = {r.source: r for r in
           REGISTRY["corpus_dedup_rate_by_source"].fn(spark, sf).collect()}
    assert set(got) == {"test"}
    r = got["test"]
    assert (r.n_docs, r.n_dup_members, r.n_dropped) == (4, 2, 1)
    assert r.dup_member_rate == 0.5


def test_ngram_novelty_on_constructed_corpus(spark, tmp_path):
    # Hand-checkable corpus: doc 0 and doc 1 are identical (every shingle
    # shared -> novelty 0); doc 2 is disjoint vocabulary (novelty 1); doc 3
    # shares its first 3-gram with doc 2 but nothing else.
    from hadoop_word_score_spark.plans.queries import REGISTRY

    dup = "a b c d e"                   # shingles: "a b c","b c d","c d e"
    uniq = "p q r s"                    # "p q r","q r s"
    half = "p q r zz ww vv"            # shares "p q r" with uniq, owns 3 more
    sf = _docs_sf(spark, str(tmp_path), [dup, dup, uniq, half])
    got = {r.doc_id: r for r in REGISTRY["corpus_ngram_novelty"].fn(spark, sf).collect()}
    assert got[0].n_shingles == 3 and got[0].n_novel == 0
    assert got[0].novelty_rate == 0.0
    assert got[1].n_novel == 0
    assert got[2].n_shingles == 2
    # "p q r" also appears in doc 3 -> only "q r s" is novel to doc 2
    assert got[2].n_novel == 1 and got[2].novelty_rate == 0.5
    assert got[3].n_shingles == 4 and got[3].n_novel == 3
    assert got[3].novelty_rate == 0.75


# --- triangle counting ------------------------------------------------------


def test_triangle_counts_k4_and_dedup_of_input_edges(spark):
    from hadoop_word_score_spark.operators.graph import triangle_counts

    # K4 given with duplicates, reversed directions and a self-loop: the
    # canonicalizer must reduce all of that to 6 undirected edges. K4 has
    # 4 triangles; every node sits in exactly 3 of them.
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b]
        + [(0, 1), (2, 2)],
        "src int, dst int",
    )
    out = {r.node: r.triangles for r in triangle_counts(edges).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_hub_star_has_none_and_closure_needed(spark):
    from hadoop_word_score_spark.operators.graph import triangle_counts

    # A star (hub 0 to 1..5) has wedges at every leaf pair but NO closing
    # edge -> zero triangles, and zero-triangle nodes are omitted. Adding
    # one rim edge (1,2) closes exactly one triangle.
    star = [(0, i) for i in range(1, 6)]
    none = triangle_counts(
        spark.createDataFrame(star, "src int, dst int")
    ).collect()
    assert none == []
    one = {
        r.node: r.triangles
        for r in triangle_counts(
            spark.createDataFrame(star + [(1, 2)], "src int, dst int")
        ).collect()
    }
    assert one == {0: 1, 1: 1, 2: 1}


def test_triangle_counts_matches_bruteforce_on_random_graph(spark):
    import itertools
    import random

    from hadoop_word_score_spark.operators.graph import triangle_counts

    rnd = random.Random(9)
    nodes = list(range(30))
    edges = sorted(
        {e for e in itertools.combinations(nodes, 2) if rnd.random() < 0.3}
    )
    eset = set(edges)
    expected: dict[int, int] = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in eset and (y, z) in eset and (x, z) in eset:
            for n in (x, y, z):
                expected[n] = expected.get(n, 0) + 1
    got = {
        r.node: r.triangles
        for r in triangle_counts(
            spark.createDataFrame(edges, "src int, dst int")
        ).collect()
    }
    assert got == expected


# --- association rules ------------------------------------------------------


def test_association_rules_counts_confidence_lift(spark):
    from hadoop_word_score_spark.operators.basket import association_rules

    # 4 baskets; {a,b} co-occur in 2, a alone in 1 more, c rides along
    # once. With min_support_frac=0.5 -> threshold ceil(2)=2: pair (a,b)
    # survives, anything involving c is pruned at the ITEM stage.
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"),
        (4, "b"),
    ]
    out = {
        (r.antecedent, r.consequent): r
        for r in association_rules(
            spark.createDataFrame(rows, "basket int, item string"),
            min_support_frac=0.5,
        ).collect()
    }
    assert set(out) == {("a", "b"), ("b", "a")}
    ab = out[("a", "b")]
    assert ab.n_pair == 2
    assert ab.support == 0.5               # 2/4
    assert ab.confidence == round(2 / 3, 6)  # n(a)=3, 6-dp contract
    assert ab.lift == round(2 * 4 / (3 * 3), 6)
    ba = out[("b", "a")]
    assert ba.confidence == round(2 / 3, 6)  # n(b)=3
    assert ba.lift == ab.lift         # lift is symmetric


def test_association_rules_item_prune_blocks_pair(spark):
    from hadoop_word_score_spark.operators.basket import association_rules

    # x and y co-occur in both their baskets, but each item appears in
    # only 2 of 10 baskets: with min_support_frac=0.3 (threshold 3) the
    # A-priori ITEM prune removes them before any pair is generated.
    rows = [(i, "filler%d" % i) for i in range(10)] + [
        (1, "x"), (1, "y"), (2, "x"), (2, "y"),
    ]
    out = association_rules(
        spark.createDataFrame(rows, "basket int, item string"),
        min_support_frac=0.3,
    ).collect()
    assert out == []


def test_association_rules_basket_multiplicity_ignored(spark):
    from hadoop_word_score_spark.operators.basket import association_rules

    # the same item twice in one basket is ONE occurrence (distinct
    # basket-item), so support counts baskets, not rows
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b")]
    out = association_rules(
        spark.createDataFrame(rows, "basket int, item string"),
        min_support_frac=0.5,
    ).collect()
    pair = {(r.antecedent, r.consequent): r.n_pair for r in out}
    assert pair == {("a", "b"): 2, ("b", "a"): 2}


# --- blocked fuzzy linkage ---------------------------------------------------


def test_blocked_fuzzy_pairs_distance_and_blocking(spark):
    from hadoop_word_score_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [
        (1, "smith", "US", "A"),
        (2, "smyth", "US", "A"),   # distance 1 from smith, same block
        (3, "smith", "EU", "A"),   # identical text but different block
        (4, "smithy", "US", "A"),  # distance 1 from smith (insert)
        (5, "jones", "US", "A"),   # distance > 1 from everything
    ]
    df = spark.createDataFrame(rows, "id int, name string, ctry string, seg string")
    out = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ("ctry", "seg"), max_distance=1
        ).collect()
    }
    # (1,2) sub, (1,4) insert; (2,4) is distance 2; 3 is block-isolated
    assert out == {(1, 2): 1, (1, 4): 1}


def test_blocked_fuzzy_pairs_null_block_never_pairs(spark):
    from hadoop_word_score_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [(1, "aaa", None), (2, "aaa", None), (3, "aaa", "B"), (4, "aab", "B")]
    df = spark.createDataFrame(rows, "id int, name string, blk string")
    out = [
        (r.id_a, r.id_b, r.distance)
        for r in blocked_fuzzy_pairs(
            df, "id", "name", ("blk",), max_distance=2
        ).collect()
    ]
    # NULL blocks drop out under join semantics; exact dup (3,4) pair at d=1
    assert out == [(3, 4, 1)]


def test_blocked_fuzzy_pairs_includes_exact_duplicates_at_zero(spark):
    from hadoop_word_score_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [(1, "same", "B"), (2, "same", "B")]
    df = spark.createDataFrame(rows, "id int, name string, blk string")
    out = blocked_fuzzy_pairs(df, "id", "name", ("blk",), max_distance=1).collect()
    assert [(r.id_a, r.id_b, r.distance) for r in out] == [(1, 2, 0)]


# --- distributed global rank -------------------------------------------------


def test_global_rank_is_dense_and_order_correct(spark):
    from hadoop_word_score_spark.operators.rank import global_rank

    rows = [(i, (i * 37) % 101) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, v int").repartition(7)
    out = global_rank(df, ["v", "id"]).collect()
    assert sorted(r.grank for r in out) == list(range(1, 301))
    by_rank = sorted(out, key=lambda r: r.grank)
    assert [(r.v, r.id) for r in by_rank] == sorted((r.v, r.id) for r in out)


def test_global_rank_invariant_under_partitioning(spark):
    from hadoop_word_score_spark.operators.rank import global_rank

    rows = [(i, str(i % 13)) for i in range(200)]
    base = spark.createDataFrame(rows, "id int, s string")
    a = {r.id: r.grank for r in global_rank(base.coalesce(1), ["s", "id"]).collect()}
    b = {r.id: r.grank for r in global_rank(base.repartition(16), ["s", "id"]).collect()}
    assert a == b


# --- sorted-neighbourhood linkage --------------------------------------------


def test_sorted_neighbourhood_window_and_miss_profile(spark):
    from hadoop_word_score_spark.operators.linkage import (
        sorted_neighbourhood_pairs,
    )

    # sort order: aaa1(1), aaa2(2), aaa3(3), zzz1(4), zzz2(5).
    # window=1 compares only adjacent ranks: (aaa1,aaa2), (aaa2,aaa3)
    # match at distance 1; (aaa1,aaa3) is rank distance 2 -> MISSED at
    # w=1 (the documented miss profile), found at w=2.
    rows = [
        (10, "aaa1"), (11, "aaa2"), (12, "aaa3"), (20, "zzz1"), (21, "zzz2"),
    ]
    df = spark.createDataFrame(rows, "id int, name string")
    w1 = {
        (r.id_a, r.id_b)
        for r in sorted_neighbourhood_pairs(
            df, "id", "name", "name", window=1, max_distance=1
        ).collect()
    }
    assert w1 == {(10, 11), (11, 12), (20, 21)}
    w2 = {
        (r.id_a, r.id_b)
        for r in sorted_neighbourhood_pairs(
            df, "id", "name", "name", window=2, max_distance=1
        ).collect()
    }
    assert w2 == {(10, 11), (11, 12), (10, 12), (20, 21)}


def test_sorted_neighbourhood_output_is_id_normalized(spark):
    from hadoop_word_score_spark.operators.linkage import (
        sorted_neighbourhood_pairs,
    )

    # id order disagrees with sort order: "abc" (id 9) sorts before
    # "abd" (id 3); output must still be id_a < id_b with names aligned
    df = spark.createDataFrame([(9, "abc"), (3, "abd")], "id int, name string")
    out = sorted_neighbourhood_pairs(
        df, "id", "name", "name", window=1, max_distance=1
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b, r.name_a, r.name_b, r.distance) == (
        3, 9, "abd", "abc", 1,
    )


# --- equi-depth histogram ----------------------------------------------------


def test_equi_depth_histogram_ntile_split_and_coverage(spark):
    from hadoop_word_score_spark.sources.catalog import equi_depth_histogram

    # 10 rows, k=4 -> NTILE sizes 3,3,2,2; values 0..9 shuffled
    rows = [((i * 7) % 10, i) for i in range(10)]
    df = spark.createDataFrame(rows, "v int, id int")
    out = equi_depth_histogram(df, "v", "id", k=4, exact=True).collect()
    assert [r.bucket for r in out] == [1, 2, 3, 4]
    assert [r.n_rows for r in out] == [3, 3, 2, 2]
    assert [(r.lo, r.hi) for r in out] == [(0, 2), (3, 5), (6, 7), (8, 9)]


def test_equi_depth_histogram_approx_mode_covers_all_rows(spark):
    from hadoop_word_score_spark.sources.catalog import equi_depth_histogram

    rows = [(float(i % 97), i) for i in range(1000)]
    df = spark.createDataFrame(rows, "v double, id int")
    out = equi_depth_histogram(df, "v", "id", k=8, exact=False).collect()
    assert sum(r.n_rows for r in out) == 1000
    # buckets are ordered, contiguous in value space, roughly equi-depth
    his = [r.hi for r in out]
    assert his == sorted(his)
    assert max(r.n_rows for r in out) <= 3 * (1000 // 8)


def test_equi_depth_histogram_nulls_excluded_fewer_rows_than_buckets(spark):
    from hadoop_word_score_spark.sources.catalog import equi_depth_histogram

    df = spark.createDataFrame(
        [(1, 1), (None, 2), (5, 3)], "v int, id int"
    )
    out = equi_depth_histogram(df, "v", "id", k=4, exact=True).collect()
    # nulls dropped; 2 rows into 4 buckets -> one row each in buckets 1, 2
    assert [(r.bucket, r.n_rows, r.lo, r.hi) for r in out] == [
        (1, 1, 1, 1), (2, 1, 5, 5),
    ]


# --- snapshot diff -----------------------------------------------------------


def test_snapshot_diff_classifies_all_change_types(spark):
    from hadoop_word_score_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 value-changed, 3 NULL->value changed, 4 deleted,
        # 5 added
        [(1, "a", 10.0), (2, "B", 20.0), (3, "c", 30.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    out = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {2: "changed", 3: "changed", 4: "deleted", 5: "added"}


def test_snapshot_diff_null_equals_null_is_unchanged(spark):
    from hadoop_word_score_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k int, v string")
    new = spark.createDataFrame([(1, None)], "k int, v string")
    assert snapshot_diff(old, new, ["k"]).collect() == []


def test_snapshot_diff_respects_compare_cols_subset(spark):
    from hadoop_word_score_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, "x", 1.0)], "k int, s string, v double")
    new = spark.createDataFrame([(1, "x", 2.0)], "k int, s string, v double")
    # v differs but is excluded from comparison -> no diff row
    assert snapshot_diff(old, new, ["k"], compare_cols=["s"]).collect() == []
    assert [
        r.change_type
        for r in snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()
    ] == ["changed"]


# --- sweep-line concurrency --------------------------------------------------


def test_concurrency_profile_overlap_and_end_exclusive(spark):
    from hadoop_word_score_spark.operators.intervals import (
        concurrency_profile,
    )

    # bucket size 10. intervals: [0,5), [3,8) overlap -> max 2 in bucket 0;
    # [8,12) starts exactly when [3,8) ends -> END-EXCLUSIVE, no overlap
    # at t=8 (bucket-0 max stays 2); in bucket 10, [8,12) is alone and has
    # ended before [15,16) starts -> max 1.
    iv = spark.createDataFrame(
        [(0, 5), (3, 8), (8, 12), (15, 16)], "start_s int, end_s int"
    )
    out = {
        r.bucket_start_s: (r.n_starts, r.n_ends, r.max_concurrency)
        for r in concurrency_profile(iv, bucket_seconds=10).collect()
    }
    assert out == {0: (3, 2, 2), 10: (1, 2, 1)}


def test_concurrency_profile_carry_in_only_bucket_boundary(spark):
    from hadoop_word_score_spark.operators.intervals import (
        concurrency_profile,
    )

    # one long interval [2, 25) plus a pure-end bucket: bucket 20 contains
    # only the -1 boundary, so its max must come from the CARRY-IN level
    # (1), not from the within-bucket running sum (which ends at 0)
    iv = spark.createDataFrame([(2, 25)], "start_s int, end_s int")
    out = {
        r.bucket_start_s: r.max_concurrency
        for r in concurrency_profile(iv, bucket_seconds=10).collect()
    }
    assert out == {0: 1, 20: 1}


def test_concurrency_profile_matches_serial_sweep_on_random_intervals(spark):
    import random

    from hadoop_word_score_spark.operators.intervals import (
        concurrency_profile,
    )

    rnd = random.Random(5)
    iv = []
    for _ in range(200):
        s = rnd.randrange(0, 500)
        iv.append((s, s + rnd.randrange(1, 60)))
    # serial reference sweep
    events = sorted(
        [(s, 1) for s, e in iv] + [(e, -1) for s, e in iv],
        key=lambda x: (x[0], x[1]),
    )
    level = 0
    expected: dict[int, int] = {}
    for ts, d in events:
        b = ts - ts % 50
        expected.setdefault(b, level)  # level BEFORE first delta = carry_in
        level += d
        expected[b] = max(expected[b], level)
    got = {
        r.bucket_start_s: r.max_concurrency
        for r in concurrency_profile(
            spark.createDataFrame(iv, "start_s int, end_s int"),
            bucket_seconds=50,
        ).collect()
    }
    assert got == expected


def test_merge_upsert_null_delete_condition_updates_not_deletes(spark):
    # ANSI MERGE: WHEN MATCHED AND <cond> THEN DELETE does not fire on a
    # NULL condition — the row takes the UPDATE arm instead of vanishing
    from hadoop_word_score_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "old", "open"), (2, "old", "open")], "k int, v string, status string"
    )
    source = spark.createDataFrame(
        [(1, "new", None), (2, "new", "closed")], "k int, v string, status string"
    )
    out = {
        r.k: (r.v, r.status)
        for r in merge_upsert(
            target, source, "k", delete_when=F.col("s.status") == "closed"
        ).collect()
    }
    # k=2 deleted (condition true); k=1 UPDATED despite NULL condition
    assert out == {1: ("new", None)}


def test_concurrency_profile_negative_timestamps_floor_bucket(spark):
    # pre-1970 boundary: ts=-1 belongs to bucket -10 (floor), not bucket 0
    # (the ts - ts % b form would misplace it — review r9)
    from hadoop_word_score_spark.operators.intervals import (
        concurrency_profile,
    )

    iv = spark.createDataFrame([(-5, -1), (2, 4)], "start_s int, end_s int")
    out = {
        r.bucket_start_s: r.max_concurrency
        for r in concurrency_profile(iv, bucket_seconds=10).collect()
    }
    assert out == {-10: 1, 0: 1}


def test_hard_negative_topk_band_and_rank(spark):
    from hadoop_word_score_spark.operators.similarity import (
        hard_negative_topk,
    )

    # query [1,0]; candidates at cosine 1.0 (dup — above band), ~0.9
    # (above band), ~0.31, ~0.20, ~0.10 (below band): band [0.15, 0.4)
    # keeps exactly the 0.31 and 0.20 candidates, ranked by sim desc
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)]

    rows = [
        (0, vec(0.0)),              # the query itself (qid != cid filter)
        (1, vec(0.0)),              # cos 1.0 — duplicate, excluded
        (2, vec(0.45)),             # cos ~0.90 — too similar, excluded
        (3, vec(math.acos(0.31))),  # in band
        (4, vec(math.acos(0.20))),  # in band
        (5, vec(math.acos(0.10))),  # below band, excluded
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = hard_negative_topk(
        df.where(F.col("vec_id") == 0), df, k=3, lo=0.15, hi=0.4
    ).collect()
    assert [(r.cand_id, r.rank) for r in out] == [(3, 1), (4, 2)]
    assert all(0.15 <= r.cosine_sim < 0.4 for r in out)


def test_hard_negative_topk_never_returns_self_for_any_band(spark):
    # advice r9: the qid != cid contract must come from the operator, not
    # from self-cosine 1.0 happening to fall outside the default band — a
    # caller passing hi > 1.0 must not get the query as its own negative
    import math

    from hadoop_word_score_spark.operators.similarity import (
        hard_negative_topk,
    )

    def vec(theta):
        return [math.cos(theta), math.sin(theta)]

    rows = [(0, vec(0.0)), (1, vec(0.45)), (2, vec(math.acos(0.31)))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = hard_negative_topk(
        df.where(F.col("vec_id") == 0), df, k=5, lo=0.0, hi=1.5
    ).collect()
    assert all(r.cand_id != 0 for r in out)
    assert [(r.cand_id, r.rank) for r in out] == [(1, 1), (2, 2)]


def test_lsh_pair_fns_reject_mismatched_precomputed_index(spark):
    # the mh_meta guard must be symmetric across ALL index-accepting params
    # (review r9: only base_index was validated; a mismatched index/new_index
    # silently collapsed recall)
    import pytest as _pytest

    from hadoop_word_score_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_index,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e f")], "doc_id long, text string"
    )
    wrong = minhash_band_index(docs, bands=8)  # built with bands=8
    with _pytest.raises(ValueError, match="index contains rows built with"):
        minhash_lsh_pairs(docs, bands=16, index=wrong).count()
    with _pytest.raises(ValueError, match="new_index contains rows built with"):
        incremental_lsh_pairs(docs, docs, bands=16, new_index=wrong).count()
    with _pytest.raises(ValueError, match="base_index contains rows built with"):
        incremental_lsh_pairs(docs, docs, bands=16, base_index=wrong).count()


def test_bigram_logprob_penalizes_word_order_scrambling(spark, tmp_path):
    # the reason this query exists next to the unigram score: identical
    # token MULTISET, different order. 20 docs share the coherent phrase;
    # 1 doc scrambles it -> same unigram distribution, rare bigrams, so
    # the scrambled doc must score strictly lower under the bigram LM.
    import os

    docs = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    docs.append((99, "fox the dog quick lazy brown over jumps the"))
    path = str(tmp_path / "sf")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    ).withColumn("lang", F.lit("en")).write.parquet(
        os.path.join(path, "documents.parquet")
    )
    from hadoop_word_score_spark.plans.queries import REGISTRY

    out = {
        r.doc_id: r.avg_bigram_logprob
        for r in REGISTRY["quality_bigram_logprob"].fn(spark, path).collect()
    }
    coherent = out[0]
    scrambled = out[99]
    assert scrambled < coherent, (scrambled, coherent)


# --- prefix-filtered exact Jaccard join (r10) ------------------------------


def test_jaccard_prefix_equals_exact_yardstick_on_corpus(spark):
    # the served exact path must reproduce the uncapped yardstick BIT FOR
    # BIT on the real corpus — candidates differ, the verified output can't
    from hadoop_word_score_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    exact = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in jaccard_prefix_filter_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dups"
    assert pref == exact


def test_jaccard_prefix_exact_under_hot_boilerplate_shingle(spark):
    # adversarial case the prefix order exists for: one shingle shared by
    # every doc. The yardstick pairs all docs through it; the prefix path
    # must still find exactly the true >=t pairs.
    from hadoop_word_score_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )

    boiler = "subscribe to our newsletter today"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c unique{i}d " + boiler) for i in range(30)]
    # two true near-dup pairs on top of the boilerplate background
    rows += [(100, "alpha beta gamma delta epsilon zeta " + boiler),
             (101, "alpha beta gamma delta epsilon zeta " + boiler),
             (200, "one two three four five six seven eight"),
             (201, "one two three four five six seven eight")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b): r.n_common
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b): r.n_common
        for r in jaccard_prefix_filter_pairs(docs, threshold=0.5).collect()
    }
    assert (100, 101) in exact and (200, 201) in exact
    assert pref == exact


def test_jaccard_prefix_threshold_boundary_pair_survives(spark):
    # sizes at the length-ratio boundary: |A|=4, |B|=8, A subset of B ->
    # J = 4/8 = 0.5 exactly; the ratio filter (t*|B| <= |A|) and the
    # prefix lemma must both keep it at t=0.5
    from hadoop_word_score_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )

    a = "w1 w2 w3 w4 w5 w6"                    # 4 shingles
    b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"       # 8 shingles, contains A's
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    out = {(r.id_a, r.id_b): (r.n_common, r.jaccard)
           for r in jaccard_prefix_filter_pairs(docs, threshold=0.5).collect()}
    assert out == {(1, 2): (4, 0.5)}


# --- k-core (r10) -----------------------------------------------------------


def _serial_peel(edges, k, max_rounds=10**9):
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    rounds = 0
    while rounds < max_rounds:
        kill = [u for u, vs in adj.items() if len(vs) < k]
        if not kill:
            break
        rounds += 1
        for u in kill:
            for v in adj[u]:
                adj[v].discard(u)
            del adj[u]
    # degree-0 survivors are absent from the operator's output (its final
    # degree pass only sees nodes on a surviving edge) — mirror that
    return {u: len(vs) for u, vs in adj.items() if len(vs) > 0}, rounds


def test_kcore_matches_serial_peel_on_random_graph(spark):
    import random

    from hadoop_word_score_spark.operators.graph import kcore_nodes

    rnd = random.Random(23)
    edges = list({(rnd.randrange(80), rnd.randrange(80)) for _ in range(200)})
    want, rounds = _serial_peel(edges, k=4)
    assert want and rounds >= 2, "fixture should actually peel (deeply)"
    assert rounds < 12, "fixture must converge inside the operator bound"
    e = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.core_degree for r in kcore_nodes(e, k=4).collect()}
    assert got == want


def test_kcore_bounded_rounds_contract_on_path_graph(spark):
    # a 12-node path needs 6 rounds to peel fully at k=2; with
    # max_rounds=2 the operator must report exactly the 2-round state —
    # the bounded contract the unrolled SQL oracle mirrors
    from hadoop_word_score_spark.operators.graph import kcore_nodes

    edges = [(i, i + 1) for i in range(11)]
    want2, _ = _serial_peel(edges, k=2, max_rounds=2)
    e = spark.createDataFrame(edges, "src int, dst int")
    # a bound-limited peel must SAY so: it returns a superset of the core
    import warnings as _warnings

    import pytest as _pytest

    with _pytest.warns(
        RuntimeWarning, match="did not reach a fixpoint within max_rounds=2"
    ):
        got = {
            r.node: r.core_degree
            for r in kcore_nodes(e, k=2, max_rounds=2).collect()
        }
    assert got == want2

    # a peel that converges stops at the fixpoint: the path empties in 6
    # rounds, so a bound of 50 runs exactly the Spark jobs a bound of 8
    # does, counted from the status store as the bench counts them
    import bench

    collector = bench._collector(spark)

    def jobs(max_rounds: int) -> float:
        def body() -> None:
            assert kcore_nodes(e, k=2, max_rounds=max_rounds).count() == 0

        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            _, rec = bench._trial(collector, body, read=True)
        return rec["driver.jobs"]

    assert jobs(50) == jobs(8) > 0


# --- DSIR importance scores (r10) ------------------------------------------


def test_dsir_target_like_raw_docs_score_higher(spark):
    from hadoop_word_score_spark.operators.importance import (
        dsir_logratio_scores,
    )

    tvocab = "aurora borealis quasar nebula pulsar"
    rvocab = "invoice ledger receipt balance audit"
    rows = [(i, tvocab, "target") for i in range(20)]
    rows += [(100 + i, tvocab, "raw") for i in range(5)]    # target-like raw
    rows += [(200 + i, rvocab, "raw") for i in range(20)]   # raw-like raw
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.id: r.dsir_score
        for r in dsir_logratio_scores(
            docs, target=F.col("source") == "target"
        ).collect()
    }
    assert set(out) == {100 + i for i in range(5)} | {200 + i for i in range(20)}
    target_like = min(out[100 + i] for i in range(5))
    raw_like = max(out[200 + i] for i in range(20))
    assert target_like > raw_like > -100
    assert all(out[100 + i] > 0 for i in range(5))
    assert all(out[200 + i] < 0 for i in range(20))


# --- ES weighted sampling + Markov transitions (r10, registry level) --------


def test_weighted_priority_sample_favors_heavy_docs(spark, tmp_path):
    from pyspark.sql import Row

    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.sources.registry import TABLES

    sf = str(tmp_path / "sf")
    heavy = [Row(doc_id=i, text="x", lang="en", source="s", n_chars=10_000)
             for i in range(100)]
    light = [Row(doc_id=1000 + i, text="x", lang="en", source="s", n_chars=10)
             for i in range(100)]
    spark.createDataFrame(heavy + light, TABLES["documents"]).write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")
    out = REGISTRY["sample_weighted_priority"].fn(spark, sf).collect()
    assert len(out) == 100
    n_heavy = sum(1 for r in out if r.n_chars == 10_000)
    # ES with a 1000x weight ratio: a light doc outranking a heavy one needs
    # ln(u_l)/10 > ln(u_h)/10000, i.e. u_l in a vanishing band; >=90 of the
    # 100 heavy docs must make the sample for any reasonable hash draw
    assert n_heavy >= 90


def test_markov_transitions_hand_computed(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import Row

    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.sources.registry import TABLES

    sf = str(tmp_path / "sf")
    t0 = dt.datetime(2024, 1, 1)
    seqs = {1: ["a", "b", "a", "b"], 2: ["a", "b", "c"], 3: ["c"]}
    rows = []
    eid = 0
    for uid, types in seqs.items():
        for j, ty in enumerate(types):
            rows.append(Row(event_id=eid, ts=t0 + dt.timedelta(minutes=j),
                            user_id=uid, event_type=ty, value=1.0, props="{}"))
            eid += 1
    spark.createDataFrame(rows, TABLES["events"]).write.mode("overwrite").parquet(
        f"{sf}/events.parquet"
    )
    out = {(r.from_type, r.to_type): (r.n, r.prob)
           for r in REGISTRY["events_markov_transitions"].fn(spark, sf).collect()}
    # user1: a->b, b->a, a->b ; user2: a->b, b->c ; user3: none.
    # normalization is per from_type: 'a' has 3 transitions (all ->b),
    # 'b' has 2 (one each way)
    assert out == {
        ("a", "b"): (3, 1.0),
        ("b", "a"): (1, 0.5),
        ("b", "c"): (1, 0.5),
    }


# --- JL random projection (r10) ---------------------------------------------


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from hadoop_word_score_spark.operators.linalg import (
        jl_sign_matrix,
        random_projection_cols,
    )

    rnd = np.random.RandomState(7)
    vecs = rnd.randn(5, 64).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: [r[f"p{j}"] for j in range(16)]
        for r in df.select("vec_id", *random_projection_cols("embedding", 64, 16))
        .collect()
    }
    S = np.array(jl_sign_matrix(64, 16), dtype=np.float64)
    for i in range(5):
        want = np.round(S @ vecs[i].astype(np.float64) / 4.0, 6)
        assert got[i] == pytest.approx(list(want), abs=1e-9)


def test_random_projection_preserves_distances_statistically(spark):
    # the JL property this operator exists for: E[||Px||^2] = ||x||^2 and
    # concentration — with k=16 the per-vector distortion is loose, so
    # assert the MEAN squared-norm ratio over the corpus is near 1
    import numpy as np

    from hadoop_word_score_spark.operators.linalg import jl_sign_matrix

    rnd = np.random.RandomState(11)
    X = rnd.randn(200, 64)
    S = np.array(jl_sign_matrix(64, 16), dtype=np.float64)
    ratios = ((X @ S.T / 4.0) ** 2).sum(axis=1) / (X**2).sum(axis=1)
    assert 0.9 < ratios.mean() < 1.1


def test_jaccard_prefix_float_overshoot_threshold_keeps_boundary_pair(spark):
    # review r10: double(0.56)*25 = 14.000000000000002, so an unslacked
    # ceil shortened the prefix below the lemma's bound AND the ratio
    # filter pruned the exact-boundary pair — a 14-shingle sub-document of
    # a 25-shingle doc has J = 14/25 = 0.56 >= t and must be found
    from hadoop_word_score_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(27)]        # 25 shingles
    a = " ".join(words)
    b = " ".join(words[:16])                     # 14 shingles, all in A
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    t = 0.56
    exact = {(r.id_a, r.id_b): r.n_common
             for r in ngram_jaccard_pairs(docs, threshold=t).collect()}
    pref = {(r.id_a, r.id_b): r.n_common
            for r in jaccard_prefix_filter_pairs(docs, threshold=t).collect()}
    assert exact == {(1, 2): 14}
    assert pref == exact


def test_scd2_history_replay_dedups_and_conflict_raises(spark):
    # review r10: equal (key, valid_from) rows used to mint a zero-width
    # phantom version with partition-order-dependent is_current/PIT output.
    # The replay pattern (delta re-carries an unchanged version row) must
    # dedup cleanly; genuinely conflicting payloads must fail fast.
    import pytest as _pytest

    from hadoop_word_score_spark.operators.scd2 import scd2_history

    replay = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 10, "a")],  # exact dup of v1
        "k int, valid_from int, payload string",
    )
    out = {(r.k, r.valid_from): (r.valid_to, r.is_current)
           for r in scd2_history(replay, "k").collect()}
    assert out == {(1, 10): (20, 0), (1, 20): (None, 1)}

    conflict = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "DIFFERENT")],
        "k int, valid_from int, payload string",
    )
    # r11: the guard is fused into the timeline plan (assert_true inside the
    # window pass — no probe job, no persist), so it fires at the first
    # ACTION, not at plan build; and it must fire even when the consumer
    # prunes down to a single timeline column (the PIT join keeps only
    # valid_from + payload, which is exactly where non-overlap matters).
    hist = scd2_history(conflict, "k")
    with _pytest.raises(Exception, match="same effective instant"):
        hist.collect()
    with _pytest.raises(Exception, match="same effective instant"):
        hist.select("valid_from").collect()
    with _pytest.raises(Exception, match="same effective instant"):
        hist.select("k", "valid_to").collect()
    # an unvalidated build stays lazy and clean — no hidden probe action
    assert scd2_history(conflict, "k", validate=False).count() == 2


def test_dsir_null_predicate_rows_count_as_raw(spark):
    # review r10: a NULL target predicate (e.g. source IS NULL) must land
    # in the RAW distribution and be scored — not vanish from both
    # distributions under 3VL while the oracle counts it
    from hadoop_word_score_spark.operators.importance import (
        dsir_logratio_scores,
    )

    rows = [(1, "quasar pulsar nebula", "target"),
            (2, "quasar pulsar nebula", None),
            (3, "ledger audit invoice", "raw")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.id: r.dsir_score
           for r in dsir_logratio_scores(
               docs, target=F.col("source") == "target"
           ).collect()}
    assert set(out) == {2, 3}          # NULL-source doc IS scored as raw
    assert out[2] > 0 > out[3]         # and its target-like text scores high


def test_dedup_lines_c4_policy(spark):
    # C4 keep-globally-first policy on a hand corpus: a segment repeated
    # across docs survives only in the min-(doc_id, seg_idx) occurrence,
    # a segment repeated WITHIN one doc keeps only its first position, and
    # singletons are untouched.
    import hashlib as _hl
    import tempfile

    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    seg_a = "a b c d e f g h"          # planted cross-doc duplicate
    seg_r = "r s t u v w x1 y1"        # planted within-doc duplicate
    docs = [
        f"{seg_a} x y",                # doc 0: [seg_a, "x y"] - all kept
        f"{seg_a} p q",                # doc 1: seg_a clipped, "p q" kept
        f"{seg_r} {seg_r}",            # doc 2: second seg_r clipped
    ]
    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, docs)
        out = {r.doc_id: r for r in REGISTRY["dedup_lines_c4"].fn(spark, sf).collect()}
    def h(s):
        return _hl.md5(s.encode()).hexdigest()
    assert (out[0].n_segs, out[0].n_removed) == (2, 0)
    assert out[0].clean_hash == h(f"{seg_a} x y")
    assert (out[1].n_segs, out[1].n_removed) == (2, 1)
    assert out[1].clean_hash == h("p q")
    assert out[1].kept_frac == 0.5
    assert (out[2].n_segs, out[2].n_removed) == (2, 1)
    assert out[2].clean_hash == h(seg_r)


def test_dedup_lines_c4_kept_equals_distinct_segments(spark):
    # corpus-level invariant at sf0.001: keep-one-per-distinct-segment means
    # sum(n_segs - n_removed) == the number of DISTINCT segment strings,
    # computed here by an independent expression path.
    from hadoop_word_score_spark.functions.hashing import let1, tokens_expr
    from hadoop_word_score_spark.plans.queries import REGISTRY, _t

    out = REGISTRY["dedup_lines_c4"].fn(spark, SF_SMOKE)
    kept = out.agg(F.sum(F.col("n_segs") - F.col("n_removed"))).first()[0]
    seg_arr = let1(
        tokens_expr("text"), "w",
        "CASE WHEN size(w) >= 1 THEN "
        "transform(sequence(1, (size(w) + 7) div 8), "
        "i -> concat_ws(' ', slice(w, (i - 1) * 8 + 1, 8))) "
        "ELSE cast(array() as array<string>) END",
    )
    distinct = (
        _t(spark, SF_SMOKE, "documents")
        .select(F.explode(F.expr(seg_arr)).alias("segment"))
        .agg(F.count_distinct("segment"))
        .first()[0]
    )
    assert kept == distinct > 0


def test_quality_classifier_score_matches_reference(spark):
    # the Spark fold reproduces a pure-Python scoring of the same hashed
    # linear model exactly (integer weight sum, one double division), and
    # the decision column is consistent with the margin's sign.
    import hashlib as _hl
    import tempfile

    from hadoop_word_score_spark.plans.queries import (
        REGISTRY,
        _QC_BUCKETS,
        _qc_weights,
    )

    from tests.conftest import stage_documents_sf

    docs = ["table scan fast", "join", "agg row value batch window sort"]
    w = _qc_weights()

    def ref_margin(text):
        toks = [t for t in text.split(" ") if t]
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        s = sum(
            w[int(_hl.md5(f.encode()).hexdigest()[:8], 16) % _QC_BUCKETS]
            for f in feats
        )
        return len(feats), s / (len(feats) * 1000.0)

    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, docs)
        rows = {
            r.doc_id: r
            for r in REGISTRY["quality_classifier_score"].fn(spark, sf).collect()
        }
    for i, text in enumerate(docs):
        n_ref, m_ref = ref_margin(text)
        assert rows[i].n_features == n_ref
        assert rows[i].margin == m_ref  # bit-exact: int sum, one division
        assert -1.0 <= rows[i].margin <= 1.0
        assert rows[i].keep == (rows[i].margin >= 0.0)


def test_train_hashed_logreg_fits_and_exports_to_serving(spark):
    # fit/apply loop: train on a separable synthetic corpus (label = doc
    # mentions "spark"), loss must fall, and the integer export served
    # through hashed_linear_score must reproduce the trained decisions.
    from hadoop_word_score_spark.operators.classifier import (
        export_weights,
        hashed_linear_score,
        train_hashed_logreg,
    )

    pos_words = ["spark", "scan", "fast", "query", "table"]
    neg_words = ["slow", "batch", "row", "merge", "line"]
    rows = []
    for i in range(40):
        base = [pos_words[(i + j) % 5] for j in range(6)]
        rows.append((i, " ".join(base + ["spark"]), 1))
        rows.append((100 + i, " ".join(neg_words[(i + j) % 5] for j in range(7)), 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")

    w, bias, history = train_hashed_logreg(
        docs, "label", iters=12, lr=8.0, buckets=64
    )
    assert len(history) == 12
    assert history[-1] < history[0] * 0.5  # loss halves on separable data
    served = hashed_linear_score(docs, weights=export_weights(w, bias, 1000), )
    got = {r.doc_id: r.margin >= 0.0 for r in served.collect()}
    acc = sum(got[i] == (lab == 1) for i, _, lab in rows) / len(rows)
    assert acc >= 0.95

    # empty corpus: no crash, zero model, loop exits on the first pass
    empty = spark.createDataFrame([], "doc_id long, text string, label int")
    w0, b0, h0 = train_hashed_logreg(empty, "label", iters=3, buckets=8)
    assert w0 == [0.0] * 8 and b0 == 0.0 and h0 == []


def test_dedup_lines_keep_first_lines_mode(spark):
    # the real-corpus unit: literal newline-delimited lines; a boilerplate
    # line repeated across docs survives only in the lowest doc_id, blanks
    # are dropped, and clean_text rejoins with newlines in document order
    from hadoop_word_score_spark.operators.dedup import dedup_lines_keep_first

    import pytest

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (0, f"intro zero\n{boiler}\noutro zero"),
            (1, f"{boiler}\nunique one\n\n{boiler}"),
            (2, "unique two"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_lines_keep_first(docs, unit="lines").collect()
    }
    assert out[0].clean_text == f"intro zero\n{boiler}\noutro zero"
    assert (out[0].n_segs, out[0].n_removed) == (3, 0)
    # doc 1: both boiler occurrences clipped (doc 0 holds the global first);
    # the blank line never counts as a unit
    assert out[1].clean_text == "unique one"
    assert (out[1].n_segs, out[1].n_removed) == (3, 2)
    assert out[2].clean_text == "unique two"
    with pytest.raises(ValueError, match="unit"):
        dedup_lines_keep_first(docs, unit="sentences")


def test_dedup_lines_keep_first_guards(spark):
    # review r12: the global-first key must fail fast, never corrupt —
    # non-integral ids are rejected at plan time (a string id would cast to
    # NULL and blank every document), CRLF/CR line endings dedup against
    # their LF twins, and an id past the int64 product bound raises inside
    # the plan instead of wrapping negative and winning MIN.
    import pytest

    from hadoop_word_score_spark.operators.dedup import dedup_lines_keep_first

    str_ids = spark.createDataFrame(
        [("docA", "x y"), ("docB", "x y")], "name string, text string"
    )
    with pytest.raises(ValueError, match="integral"):
        dedup_lines_keep_first(str_ids, id_col="name")

    crlf = spark.createDataFrame(
        [(0, "keep me\r\nboiler line\r\nalso keep"), (1, "boiler line\nunique")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in dedup_lines_keep_first(crlf, unit="lines").collect()
    }
    assert out[0].clean_text == "keep me\nboiler line\nalso keep"
    assert (out[1].n_removed, out[1].clean_text) == (1, "unique")

    big_id = spark.createDataFrame(
        [(2**60, "a b")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="key overflow"):
        dedup_lines_keep_first(big_id).collect()


def test_train_hashed_logreg_rejects_bad_labels(spark):
    # review r12: the -log(1-|resid|) loss identity requires y in {0,1};
    # fractional labels fail fast in-plan rather than silently corrupting
    import pytest

    from hadoop_word_score_spark.operators.classifier import train_hashed_logreg

    docs = spark.createDataFrame(
        [(0, "some text here", 0.5)], "doc_id long, text string, label double"
    )
    with pytest.raises(Exception, match="labels must be 0/1"):
        train_hashed_logreg(docs, "label", iters=1, buckets=8)


def test_train_hashed_logreg_divergence_raises_clearly(spark):
    # ADVICE r12: a diverged weight used to render as an 'infD' literal and
    # die with an opaque SQL parse error; the finite guard names the cause
    import pytest

    from hadoop_word_score_spark.operators.classifier import train_hashed_logreg

    docs = spark.createDataFrame(
        [(0, "aaa bbb ccc", 1), (1, "ddd eee fff", 0)],
        "doc_id long, text string, label int",
    )
    # bounded gradients (|resid| <= 1, mean-pooled) keep a plain large-lr
    # step finite, so force geometric blowup through the unscaled l2 term:
    # w *= (lr*l2 - 1) per iteration -> overflows double in ~26 rounds
    with pytest.raises(ValueError, match="diverged to inf/nan"):
        train_hashed_logreg(
            docs, "label", iters=40, lr=1e6, l2=1e6, buckets=8
        )


def test_train_hashed_logreg_matches_pure_python_reference(spark):
    # the repo's shared-reference pattern: the
    # distributed trainer must reproduce a from-scratch numpy logistic
    # regression over the IDENTICAL feature hashing, per-iteration — same
    # loss curve, same final weights/bias up to partial-sum float noise.
    import hashlib as _hl
    import math

    from hadoop_word_score_spark.operators.classifier import (
        train_hashed_logreg,
    )

    buckets, iters, lr = 32, 6, 4.0
    rows = [
        (0, "spark scan fast table", 1),
        (1, "slow batch row merge line", 0),
        (2, "query table spark spark", 1),
        (3, "merge slow slow batch", 0),
        (4, "fast query scan", 1),
    ]

    def feats(text):
        toks = [t for t in text.split(" ") if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def b_of(f):
        return int(_hl.md5(f.encode()).hexdigest()[:8], 16) % buckets

    def reference():
        w = [0.0] * buckets
        bias = 0.0
        hist = []
        data = [(feats(t), float(y)) for _, t, y in rows]
        for _ in range(iters):
            grad = [0.0] * buckets
            gb = 0.0
            loss = 0.0
            for fs, y in data:
                m = sum(w[b_of(f)] for f in fs) / len(fs) + bias
                p = 1.0 / (1.0 + math.exp(-m))
                r = p - y
                for f in fs:
                    grad[b_of(f)] += r / len(fs)
                gb += r
                loss += -math.log(max(1.0 - abs(r), 1e-12))
            n = len(data)
            w = [wi - lr * gi / n for wi, gi in zip(w, grad)]
            bias -= lr * gb / n
            hist.append(loss / n)
        return w, bias, hist

    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    w_s, b_s, h_s = train_hashed_logreg(
        docs, "label", iters=iters, lr=lr, buckets=buckets
    )
    w_r, b_r, h_r = reference()
    assert len(h_s) == len(h_r) == iters
    for a, b in zip(h_s, h_r):
        assert abs(a - b) < 1e-9
    assert abs(b_s - b_r) < 1e-9
    assert max(abs(a - b) for a, b in zip(w_s, w_r)) < 1e-9


def test_hashed_multiclass_score_md5_family(spark):
    # The oracle-parity serving path: K constant-folded integer tables,
    # one fold pass, first-max tie rule. Cross-checked against a direct
    # per-class hashed_linear_score margin computation — the argmax of
    # the K binary margins must equal the multiclass pred, and the
    # winning margin must match bit-for-bit (same integer sums, same
    # single division).
    import hashlib as _hashlib

    from hadoop_word_score_spark.operators.classifier import (
        hashed_linear_score,
        hashed_multiclass_score,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(50)

    def table(cls):
        return [
            (int(_hashlib.md5(f"mc:{cls}:{b}".encode()).hexdigest()[:8], 16)
             % 2001) - 1000
            for b in range(128)
        ]

    cw = [(c, table(c)) for c in ("a", "b", "c")]
    mc = {
        r.doc_id: (r.pred, r.margin)
        for r in hashed_multiclass_score(
            docs.select("doc_id", "text"), cw
        ).collect()
    }
    per_class = {}
    for c, t in cw:
        per_class[c] = {
            r.doc_id: r.margin
            for r in hashed_linear_score(
                docs.select("doc_id", "text"), weights=t
            ).collect()
        }
    assert mc  # non-empty
    for did, (pred, margin) in mc.items():
        margins = [(per_class[c][did], c) for c, _ in cw]
        best = max(margins, key=lambda p: p[0])[0]
        # first-max-wins on ties, in class_weights order
        expect_pred = next(c for m, c in margins if m == best)
        assert pred == expect_pred
        assert margin == best

    # validation guards
    import pytest

    with pytest.raises(ValueError, match=">= 2 classes"):
        hashed_multiclass_score(docs, [("a", [1, 2])])
    with pytest.raises(ValueError, match="duplicate labels"):
        hashed_multiclass_score(docs, [("a", [1]), ("a", [1])])
    with pytest.raises(ValueError, match="share one"):
        hashed_multiclass_score(docs, [("a", [1, 2]), ("b", [1])])
    with pytest.raises(ValueError, match="non-integer"):
        hashed_multiclass_score(docs, [("a", [1.5, 2]), ("b", [1, 2])])


def test_image_ahash_dhash_closed_form(spark):
    # r14 verdict #4: perceptual hashes over the REAL decode path. Pins
    # the exact recipes against a hand-computed numpy reference on
    # synthetic PGM/BMP rasters: decode -> ITU-601 luma -> floor-grid
    # nearest resample -> (aHash: strict 64*v > sum; dHash: right > left),
    # row-major bit k, two's-complement int64. Non-image payloads must be
    # DROPPED, not fake-hashed.
    import numpy as np

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        _bits_to_i64,
        image_ahash64,
        image_dhash64,
    )

    rng = np.random.RandomState(7)
    g1 = rng.randint(0, 256, (24, 16)).astype(np.uint8)
    rgb = rng.randint(0, 256, (10, 13, 3)).astype(np.uint8)
    rows = [
        (1, bytearray(codecs.encode_pgm(g1))),
        (2, bytearray(codecs.encode_bmp24(rgb))),
        (3, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    def ref_hashes(arr3):
        gray = codecs.to_gray(arr3)
        a8 = codecs.resize_nearest(gray, 8, 8).astype(np.int64)
        ah = _bits_to_i64((64 * a8.reshape(-1) > a8.sum()))
        d9 = codecs.resize_nearest(gray, 9, 8).astype(np.int64)
        dh = _bits_to_i64((d9[:, 1:] > d9[:, :-1]).reshape(-1))
        return ah, dh

    exp1 = ref_hashes(np.repeat(g1[:, :, None], 3, axis=2))
    exp2 = ref_hashes(rgb)
    got_a = {r.doc_id: r.ahash for r in image_ahash64(df).collect()}
    got_d = {r.doc_id: r.dhash for r in image_dhash64(df).collect()}
    assert set(got_a) == {1, 2} and set(got_d) == {1, 2}  # id 3 dropped
    assert got_a[1] == exp1[0] and got_d[1] == exp1[1]
    assert got_a[2] == exp2[0] and got_d[2] == exp2[1]


def test_hamming_near_pairs_exact_and_guarded(spark):
    # The generic banded Hamming join must equal the brute-force all-pairs
    # filter (pigeonhole is exact for max_hamming <= chunks-1), and refuse
    # a threshold the banding cannot guarantee.
    import itertools

    from hadoop_word_score_spark.operators.dedup import hamming_near_pairs

    rng = __import__("numpy").random.RandomState(11)
    base = [int(x) for x in rng.randint(-(2**62), 2**62, 40)]
    hashes = list(base)
    for i in range(0, 40, 4):  # plant near neighbours at distance 1-3
        flip = 0
        for b in range((i % 3) + 1):
            flip |= 1 << ((7 * i + 13 * b) % 64)
        hashes.append(base[i] ^ flip)
    rows = [(i, h) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "doc_id long, hash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_pairs(df, max_hamming=3, chunks=4).collect()
    }
    expect = set()
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 3:
            expect.add((min(ia, ib), max(ia, ib), d))
    assert got == expect and len(expect) >= 10

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_pairs(df, max_hamming=4, chunks=4)


def test_hamming_near_pairs_degenerate_bucket_is_join_shaped(spark):
    # r15 verdict #1: perceptual chunk values are data-dependent — N flat
    # rasters share ONE hash, so every chunk bucket holds the whole corpus.
    # The pairing must (a) still be exact on that worst case and (b) be a
    # JOIN in the optimized plan (AQE skew-split eligible, O(partition)
    # memory), never a collect_list bucket array (one corpus-sized array in
    # one executor, opaque to AQE).
    from hadoop_word_score_spark.operators.dedup import hamming_near_pairs

    n = 120
    rows = [(i, 0x00FF00FF00FF00FF) for i in range(n)]  # identical hashes
    rows += [(n, 0x00FF00FF00FF00FE), (n + 1, -1)]  # dist 1 and far
    df = spark.createDataFrame(rows, "doc_id long, hash long")
    pairs = hamming_near_pairs(df, max_hamming=3, chunks=4)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    assert "Join" in plan
    got = pairs.collect()
    # n identical docs pair all-ways at 0, each also pairs the dist-1 doc.
    assert len(got) == n * (n - 1) // 2 + n
    assert sum(1 for r in got if r.hamming == 0) == n * (n - 1) // 2
    assert sum(1 for r in got if r.hamming == 1) == n
    assert not any(r.id_b == n + 1 or r.id_a == n + 1 for r in got)


def test_audio_envelope_hash_closed_form(spark):
    # The audio member of the perceptual family: decode -> channel-sum ->
    # |amplitude| -> 64-point floor-grid decimation -> strict mean
    # threshold, pinned against a hand-computed numpy reference on mono
    # and stereo WAVs; non-audio and unsupported payloads are dropped.
    import numpy as np

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        _bits_to_i64,
        audio_envelope_hash64,
    )

    rng = np.random.RandomState(3)
    mono = rng.randint(-30000, 30000, 500).astype(np.int16)
    stereo = rng.randint(-30000, 30000, 400).astype(np.int16)  # 200 frames
    rows = [
        (1, bytearray(codecs.encode_wav_pcm16(mono, 8000))),
        (2, bytearray(_stereo_wav(stereo))),
        (3, bytearray(b"RIFFxxxxNOPE")),  # not WAVE: dropped
        (4, bytearray(b"plain text")),    # not RIFF: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.audiohash for r in audio_envelope_hash64(df).collect()}
    assert set(got) == {1, 2}

    def ref(arr):
        a = np.abs(arr.astype(np.int64))
        v = a[(np.arange(64) * a.size) // 64]
        return _bits_to_i64(64 * v > int(v.sum()))

    assert got[1] == ref(mono)
    assert got[2] == ref(stereo.reshape(-1, 2).sum(axis=1))


def _stereo_wav(samples_interleaved):
    # encode_wav_pcm16 writes mono; patch the fmt chunk for 2 channels
    import struct

    raw = bytearray(
        __import__(
            "hadoop_word_score_spark.functions.codecs", fromlist=["codecs"]
        ).encode_wav_pcm16(samples_interleaved, 8000)
    )
    raw[22:24] = struct.pack("<H", 2)       # n_channels
    raw[28:32] = struct.pack("<I", 8000 * 4)  # byte rate
    raw[32:34] = struct.pack("<H", 4)       # block align
    return bytes(raw)


def test_dedup_near_audio_planted_recall(spark):
    # Recall-vs-planted pin for the audio query's construction: bytes 1
    # and n//64+1 both sit on the decimation grid and nowhere else, the
    # decimated sum is swap-invariant, so every planted pair lands at
    # hamming 0 or 2 and must be found.
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["dedup_near_audio"].fn(spark, SF_SMOKE).collect()
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_expected = d.filter(
        (d.doc_id % 5 == 0) & (F.length("text") >= 64)
    ).count()
    planted = {r.id_a: r.hamming for r in rows if r.id_b == r.id_a + 1000000}
    assert len(planted) == n_expected > 0
    assert set(planted.values()) <= {0, 2}


def test_dedup_near_phash_planted_recall(spark):
    # Recall-vs-planted pin for the registry query's construction: every
    # planted swap-pair (characters 1 and 3 — both on the sample grid, so
    # the threshold is invariant and only those two bits can flip) must be
    # found, at hamming 0 or 2, never missed.
    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["dedup_near_phash"].fn(spark, SF_SMOKE).collect()
    import pyspark.sql.functions as F  # noqa: F401

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_expected = d.filter(
        (d.doc_id % 5 == 0) & (F.length("text") >= 113)
    ).count()
    planted = {
        r.id_a: r.hamming for r in rows if r.id_b == r.id_a + 1000000
    }
    assert len(planted) == n_expected > 0  # 100% recall on planted pairs
    assert set(planted.values()) <= {0, 2}  # the construction's guarantee


def test_video_framehash_closed_form(spark):
    # The video member of the perceptual family: REAL demux -> sample 4
    # frames on the (k*n)//4 floor grid -> per-frame 4x4 nearest resample
    # -> strict 16-bit mean-threshold lane, bit 16f + 4r + c. Pinned
    # against a hand-computed numpy reference on a 6-frame synthetic
    # container (so the frame-sampling grid is exercised, not identity);
    # zero-frame payloads are dropped.
    import numpy as np

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        _bits_to_i64,
        video_framehash64,
    )

    rng = np.random.RandomState(5)
    frames = [rng.randint(0, 256, (9, 16)).astype(np.uint8) for _ in range(6)]
    video = b"".join(codecs.encode_pgm(fr) for fr in frames)
    rows = [
        (1, bytearray(video)),
        (2, bytearray(b"not a video")),          # no PGM header: dropped
        (3, bytearray(codecs.encode_pgm(frames[0]))),  # 1-frame video: kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.videohash for r in video_framehash64(df).collect()}
    assert set(got) == {1, 3}

    def ref(sel):
        bits = []
        for fr in sel:
            v = codecs.resize_nearest(fr, 4, 4).astype(np.int64).reshape(-1)
            bits.extend(16 * v > int(v.sum()))
        return _bits_to_i64(bits)

    assert got[1] == ref([frames[(k * 6) // 4] for k in range(4)])
    assert got[3] == ref([frames[0]] * 4)


def test_dedup_near_video_planted_recall(spark):
    # Recall-vs-planted pin for the video query's construction: chars 1
    # and 5 both land in frame 0 at sampled 4x4 grid cells (row 0, cols 0
    # and 1) and nowhere else (chunk >= 49 bytes keeps the row grid
    # duplicate-free), the lane sum is swap-invariant and frames 1-3 are
    # byte-identical, so every planted pair is at hamming 0 or 2 and must
    # be found.
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["dedup_near_video"].fn(spark, SF_SMOKE).collect()
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_expected = d.filter(
        (d.doc_id % 5 == 0) & (F.length("text") >= 196)
    ).count()
    planted = {r.id_a: r.hamming for r in rows if r.id_b == r.id_a + 1000000}
    assert len(planted) == n_expected > 0
    assert set(planted.values()) <= {0, 2}


def test_nfc_normalize_udf(spark):
    # composed/decomposed forms converge; nulls pass through; already-NFC
    # text is untouched (idempotence)
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.operators.pandas_ops import nfc_normalize_udf

    nfc = nfc_normalize_udf()
    df = spark.createDataFrame(
        [
            (1, "café naïve"),  # decomposed accents
            (2, "café naïve"),  # already composed
            (3, None),
            (4, "plain ascii."),
        ],
        "id long, t string",
    )
    got = {r.id: r.n for r in df.select("id", nfc(F.col("t")).alias("n")).collect()}
    assert got[1] == "café naïve"
    assert got[2] == "café naïve"
    assert got[1] == got[2]
    assert got[3] is None
    assert got[4] == "plain ascii."


def test_ivfpq_filtered_probe_composes_with_tombstones(spark, tmp_path):
    # where-predicate pushdown and the tombstone anti-join stack on the
    # same pruned scan: a filtered probe must exclude BOTH predicate
    # failures and deleted ids, before and after vacuum.
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.pq import (
        ivfpq_probe_topk,
        persist_ivfpq_index,
    )
    from hadoop_word_score_spark.operators.similarity import (
        ann_index_delete,
        ann_index_vacuum,
    )

    em = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = em.filter(F.col("vec_id") < 3).select("vec_id", "embedding")
    corpus = em.select("vec_id", "embedding", "label")
    path = str(tmp_path / "ivfpq_f")
    persist_ivfpq_index(corpus, path, n_cells=16, m=16, k=32,
                        meta_cols=("label",))
    base = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6,
                            where="label >= 5").collect()
    assert base and all(r.cand_id != r.query_id for r in base)
    labels = dict(em.select("vec_id", "label").collect())
    assert all(labels[r.cand_id] >= 5 for r in base)
    # tombstone the current filtered top-1s: they must vanish, top-k
    # refills from surviving candidates, predicate still holds
    top1 = {r.cand_id for r in base if r.rank == 1}
    dead = spark.createDataFrame([(i,) for i in top1], "vec_id long")
    ann_index_delete(dead, path)
    t = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6,
                         where="label >= 5").collect()
    assert t and not {r.cand_id for r in t} & top1
    assert all(labels[r.cand_id] >= 5 for r in t)
    assert len(t) == len(base)  # k refilled
    ann_index_vacuum(spark, path)
    v = ivfpq_probe_topk(spark, path, q, k=5, n_probe=6,
                         where="label >= 5").collect()
    key = lambda rows: {(r.query_id, r.rank, r.cand_id, r.cosine_sim)  # noqa: E731
                        for r in rows}
    assert key(v) == key(t)


def test_bpe_decode_malformed_byte_run_fails_fast(spark):
    # r14 review: F.decode emits U+FFFD for invalid UTF-8 instead of
    # erroring; a token_ids array truncated mid-multibyte fallback run
    # must RAISE, not splice replacement chars into the text.
    import pytest
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.operators.bpe import (
        decode_corpus_ids,
        encode_corpus_ids,
        learn_subword_rules,
        subword_id_vocab,
        subword_vocab,
    )

    train = spark.createDataFrame([(1, "low lower lowest")], ["doc_id", "text"])
    held = spark.createDataFrame([(9, "日本")], ["doc_id", "text"])
    vocab = subword_vocab(train, "text")
    rules = learn_subword_rules(train, "text", 2, vocab=vocab)
    idv = subword_id_vocab(vocab, rules, oov="bytes")
    enc = encode_corpus_ids(
        held, "doc_id", "text", rules, id_vocab=idv, oov="bytes"
    )
    # intact sequence roundtrips
    ok = decode_corpus_ids(enc, idv, oov="bytes").collect()[0]
    assert ok.text == "日本"
    # cut INSIDE a CJK char's 3-byte fallback run (the last 5 ids are one
    # byte of 本 + the 4 ASCII marker bytes): the remaining run is invalid
    # UTF-8 and must raise, not decode to U+FFFD
    cut = enc.select(
        "doc_id",
        F.expr("slice(token_ids, 1, size(token_ids) - 5)").alias("token_ids"),
    )
    # under ANSI (Spark 4 default) F.decode itself raises
    # MALFORMED_CHARACTER_CODING; the operator's re-encode filter guard
    # covers non-ANSI sessions with its own message — either way: LOUD
    with pytest.raises(
        Exception, match="malformed UTF-8|MALFORMED_CHARACTER_CODING"
    ):
        decode_corpus_ids(cut, idv, oov="bytes").collect()


def test_classifier_pr_curve_invariants(spark):
    # Calibration-sweep math: tp is a non-decreasing prefix count, recall
    # is monotone non-decreasing ending at exactly 1.0, precision at rank
    # r is tp/r, and F1 equals the simplified single-ratio harmonic mean
    # 2tp/(rank+pos). These hold for ANY margin ordering — they pin the
    # sweep machinery independent of model quality.
    from hadoop_word_score_spark.plans.queries import REGISTRY

    rows = REGISTRY["classifier_pr_curve"].fn(spark, SF_SMOKE).collect()
    assert rows, "empty curve"
    total_pos = rows[-1].tp
    assert rows[-1].recall == 1.0 and total_pos > 0
    prev_tp = 0
    for r in rows:
        assert r.tp >= prev_tp and r.tp - prev_tp <= 1
        prev_tp = r.tp
        assert r.precision == r.tp / r.rank
        assert r.recall == r.tp / total_pos
        assert r.f1 == 2 * r.tp / (r.rank + total_pos)


def test_dedup_apply_perceptual_drops_exactly_planted_duplicates(spark):
    # The apply stage must keep every original doc that is its component's
    # min id and drop the rest: survivors + dropped partition the corpus,
    # every planted copy (id + 1000000) whose pair was found is dropped,
    # and the survivor set matches detection-side components exactly.
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.plans.queries import REGISTRY

    kept = {
        r.doc_id
        for r in REGISTRY["dedup_apply_perceptual"].fn(spark, SF_SMOKE).collect()
    }
    pairs = REGISTRY["dedup_near_phash"].fn(spark, SF_SMOKE).collect()
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    orig_ids = {r.doc_id for r in d.select("doc_id").collect()}
    planted_ids = {
        r.doc_id + 1000000
        for r in d.filter(
            (d.doc_id % 5 == 0) & (F.length("text") >= 113)
        ).select("doc_id").collect()
    }
    # reference survivor set: min id per connected component over the
    # detection pairs, computed with a plain union-find
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dropped = {x for x in parent if find(x) != x}
    assert dropped and dropped <= (orig_ids | planted_ids)
    assert kept == (orig_ids | planted_ids) - dropped


def test_url_admission_consumes_derived_blocklist(spark):
    # The governance loop end to end: the quality-derived host table
    # (host_quality_blocklist) feeds the URL admission join in place of a
    # curated literal — here as worst-k governance (block the 3 lowest-
    # margin hosts, a split the all-negative stand-in model can't give via
    # the mass<0 flag). Every URL on a blocked host must be refused, no
    # URL elsewhere may be, and the path-disallow rule is independent.
    import pyspark.sql.functions as F

    from hadoop_word_score_spark.operators.markup import (
        canonicalize_url,
        extract_urls,
        render_markup,
        render_source_links,
        url_host,
        url_path,
    )
    from hadoop_word_score_spark.plans.queries import REGISTRY

    hosts = REGISTRY["host_quality_blocklist"].fn(spark, SF_SMOKE)
    worst = (
        hosts.orderBy(F.asc("host_margin"), F.asc("host"))
        .limit(3)
        .select("host")
        .withColumn("blocked", F.lit(True))
    )
    blocked_hosts = {r.host for r in worst.select("host").collect()}
    assert len(blocked_hosts) == 3

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    t = ((F.col("doc_id") * 3 + 1) % 7).cast("string")
    m = (F.col("doc_id") % 11).cast("string")
    url_a = F.concat(
        F.lit("HTTPS://Example"), t, F.lit(".COM:443/page"), m,
        F.lit("/?b=2&a=1#top"),
    )
    pages = d.select(
        render_markup(
            F.col("text"), F.col("doc_id"),
            extra_block=render_source_links(F.array(url_a)),
        ).alias("html")
    )
    urls = (
        pages.select(F.explode(extract_urls(F.col("html"))).alias("raw"))
        .select(canonicalize_url(F.col("raw")).alias("url"))
        .distinct()
        .select(
            "url",
            url_host(F.col("url")).alias("host"),
            url_path(F.col("url")).alias("path"),
        )
    )
    verdicts = urls.join(F.broadcast(worst), "host", "left").select(
        "host", "path",
        F.when(F.col("blocked"), F.lit("blocked-host"))
        .when(F.col("path").rlike(r"^/page(0|3|6|9)$"),
              F.lit("disallowed-path"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    ).collect()
    assert verdicts
    for r in verdicts:
        if r.host in blocked_hosts:
            assert r.verdict == "blocked-host", r
        else:
            assert r.verdict != "blocked-host", r
            import re as _re

            expect = (
                "disallowed-path"
                if _re.match(r"^/page(0|3|6|9)$", r.path)
                else "kept"
            )
            assert r.verdict == expect, r


def test_incremental_hamming_pairs_exact_and_guarded(spark):
    # The cross-relation banded join must equal the brute-force cross
    # filter (pigeonhole exact for max_hamming <= chunks-1) and refuse an
    # unguaranteed threshold, mirroring the single-relation variant.
    from hadoop_word_score_spark.operators.dedup import (
        incremental_hamming_pairs,
    )

    rng = __import__("numpy").random.RandomState(13)
    base = [(i, int(h)) for i, h in
            enumerate(rng.randint(-(2**62), 2**62, 30))]
    new = []
    for j in range(20):
        if j % 2 == 0:  # planted near base[j] at distance j % 4
            flip = 0
            for b in range(j % 4):
                flip |= 1 << ((11 * j + 5 * b) % 64)
            new.append((100 + j, base[j][1] ^ flip))
        else:
            new.append((100 + j, int(rng.randint(-(2**62), 2**62))))
    bdf = spark.createDataFrame(base, "doc_id long, hash long")
    ndf = spark.createDataFrame(new, "doc_id long, hash long")
    got = {
        (r.base_id, r.new_id, r.hamming)
        for r in incremental_hamming_pairs(bdf, ndf, max_hamming=3).collect()
    }
    expect = set()
    for bi, bh in base:
        for ni, nh in new:
            d = bin((bh ^ nh) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                expect.add((bi, ni, d))
    assert got == expect and len(expect) >= 8

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        incremental_hamming_pairs(bdf, ndf, max_hamming=4, chunks=4)


def test_image_phash64_dct_closed_form(spark):
    # DCT pHash pinned against an independent numpy reference (and the
    # brightness invariance the integer basis guarantees): decode -> luma
    # -> 32x32 nearest -> T = C g C' -> strict upper-median threshold.
    import numpy as np

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        _DCT_C32,
        image_phash64_dct,
    )

    rng = np.random.RandomState(7)
    g1 = rng.randint(0, 256, (20, 15), dtype=np.uint8)
    g2 = np.clip(g1.astype(np.int64) + 37, 0, 255).astype(np.uint8)
    no_clip = bool((g1 <= 255 - 37).all())
    assert not no_clip  # clipping DOES bind somewhere -> hashes may differ
    g3 = np.clip(g1[g1 < 219].reshape(-1)[:150].reshape(15, 10) + 37, 0, 255)
    rows = [
        (1, codecs.encode_pgm(g1)),
        (2, codecs.encode_pgm(g2)),
        (3, b"not an image"),
        (4, codecs.encode_pgm(g3.astype(np.uint8))),
        (5, codecs.encode_pgm((g3 - 37).astype(np.uint8))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.phash for r in image_phash64_dct(df).collect()}
    assert set(got) == {1, 2, 4, 5}  # non-image dropped

    C = np.asarray(_DCT_C32, dtype=np.int64)

    def ref(gray):
        g = codecs.resize_nearest(gray, 32, 32).astype(np.int64)
        t = (C @ g @ C.T).reshape(-1)
        return _bits_to_i64(t > np.sort(t)[32])

    def _bits_to_i64(bits):
        v = 0
        for k, b in enumerate(bits):
            if b:
                v |= 1 << k
        return v - (1 << 64) if v >= 1 << 63 else v

    assert got[1] == ref(g1) and got[2] == ref(g2)
    # rows 4/5 differ by an UNCLIPPED +37 brightness shift: AC rows of
    # _DCT_C32 sum to exactly 0, so the hash is exactly invariant.
    assert got[4] == got[5]


def test_perceptual_robustness_receipts(spark):
    # r15 verdict missing #3 / next-round #7: recall-vs-perturbation
    # receipts for the image members against 1/f-spectrum ("natural image
    # statistics") rasters. Receipted claims:
    #   - +-16 per-pixel noise: DCT pHash holds hamming <= 3 on >= 55% of
    #     pairs where aHash holds on <= 45% (low-freq focus wins);
    #   - 16-level re-quantization: pHash >= 85%, aHash <= 80%;
    #   - unclipped global brightness shift: BOTH exactly invariant
    #     (aHash mean-threshold cancels; pHash AC rows sum to 0).
    # The reverse ordering on flat-spectrum rasters is receipted by the
    # swap-fixture distances in the dedup_near_phash* oracles — the family
    # ships both members because neither dominates.
    import numpy as np

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        image_ahash64,
        image_phash64_dct,
    )

    def pink(seed, n=64):
        rng = np.random.RandomState(seed)
        spec = rng.normal(size=(n, n)) + 1j * rng.normal(size=(n, n))
        fx = np.fft.fftfreq(n)[:, None]
        fy = np.fft.fftfreq(n)[None, :]
        f = np.sqrt(fx**2 + fy**2)
        f[0, 0] = 1.0 / n
        img = np.real(np.fft.ifft2(spec / f**1.5))
        img = (img - img.min()) / (img.max() - img.min()) * 200  # headroom
        return img.astype(np.uint8)

    n_img, rows = 60, []
    for s in range(n_img):
        r0 = pink(s).astype(np.int64)
        rng = np.random.RandomState(10000 + s)
        variants = {
            0: r0,
            1: r0 + rng.randint(-16, 17, r0.shape),        # noise16
            2: (r0 // 16) * 16 + 8,                        # quant16
            3: r0 + 40,                                    # brightness
        }
        for v, img in variants.items():
            arr = np.clip(img, 0, 255).astype(np.uint8)
            assert v != 3 or (img <= 255).all()  # shift never clips
            rows.append((s * 10 + v, codecs.encode_pgm(arr)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    ah = {r.doc_id: r.ahash for r in image_ahash64(df).collect()}
    ph = {r.doc_id: r.phash for r in image_phash64_dct(df).collect()}

    def ham(h, a, b):
        return bin((h[a] ^ h[b]) & ((1 << 64) - 1)).count("1")

    rec = {
        (name, v): sum(ham(h, s * 10, s * 10 + v) <= 3 for s in range(n_img))
        / n_img
        for name, h in (("ahash", ah), ("phash", ph))
        for v in (1, 2, 3)
    }
    assert rec["phash", 1] >= 0.55 > 0.45 >= rec["ahash", 1], rec
    assert rec["phash", 2] >= 0.85 > 0.80 >= rec["ahash", 2], rec
    assert rec["phash", 3] == 1.0 and rec["ahash", 3] == 1.0, rec
    # invariance is EXACT, not just <= 3
    assert all(ham(ph, s * 10, s * 10 + 3) == 0 for s in range(n_img))
    assert all(ham(ah, s * 10, s * 10 + 3) == 0 for s in range(n_img))


def test_audio_video_robustness_receipts(spark):
    # The audio/video halves of the r16 robustness receipts (image halves
    # in test_perceptual_robustness_receipts). Receipted claims:
    #   audio envelope hash: EXACTLY invariant under unclipped amplitude
    #     scaling (the x2 gain comparison 64*|a| > sum scale-cancels);
    #     NOT survived: DC offset (|amplitude| is nonlinear around 0) and
    #     time shift (the 64-point decimation grid is absolute) — both
    #     must be able to move bits, documented contract;
    #   video frame hash: a perturbation confined to one frame can only
    #     flip bits in that frame's 16-bit lane (lane structure is the
    #     point), and a one-frame-dropped re-cut stays within 3 lanes.
    import numpy as np

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        audio_envelope_hash64,
        video_framehash64,
    )

    rng = np.random.RandomState(3)
    rows = []
    n_clips = 40
    for s in range(n_clips):
        base = rng.randint(-8000, 8000, 700).astype(np.int16)
        rows.append((s * 10, bytearray(codecs.encode_wav_pcm16(base, 8000))))
        rows.append(
            (s * 10 + 1, bytearray(codecs.encode_wav_pcm16(base * 2, 8000)))
        )
        rows.append(
            (s * 10 + 2,
             bytearray(codecs.encode_wav_pcm16(base + 3000, 8000)))
        )
        rows.append(
            (s * 10 + 3,
             bytearray(codecs.encode_wav_pcm16(np.roll(base, 100), 8000)))
        )
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    ah = {r.doc_id: r.audiohash for r in audio_envelope_hash64(df).collect()}
    mask = (1 << 64) - 1

    def ham(h, a, b):
        return bin((h[a] ^ h[b]) & mask).count("1")

    assert all(ham(ah, s * 10, s * 10 + 1) == 0 for s in range(n_clips))
    # the not-survived perturbations really do move bits somewhere
    assert sum(ham(ah, s * 10, s * 10 + 2) for s in range(n_clips)) > 0
    assert sum(ham(ah, s * 10, s * 10 + 3) for s in range(n_clips)) > 0

    vrows = []
    for s in range(20):
        frames = [
            rng.randint(0, 256, (12, 16)).astype(np.uint8) for _ in range(4)
        ]
        pert = [f.copy() for f in frames]
        pert[2] = np.clip(pert[2].astype(np.int64) + 60, 0, 255).astype(
            np.uint8
        )
        vrows.append(
            (s * 10, bytearray(b"".join(codecs.encode_pgm(f) for f in frames)))
        )
        vrows.append(
            (s * 10 + 1, bytearray(b"".join(codecs.encode_pgm(f) for f in pert)))
        )
    vdf = spark.createDataFrame(vrows, "doc_id long, payload binary")
    vh = {r.doc_id: r.videohash for r in video_framehash64(vdf).collect()}
    for s in range(20):
        d = (vh[s * 10] ^ vh[s * 10 + 1]) & mask
        # frames sampled at (k*4)//4 = identity: frame 2 -> lane 2 only
        assert d & ~(0xFFFF << 32) == 0, hex(d)


def test_hamming_near_pairs_chunk_variants_exact(spark):
    # The pigeonhole + first-agreeing-chunk machinery is parameterized by
    # `chunks`; exactness must hold at every supported width, not just the
    # default 4x16 (chunks=2 -> 32-bit pieces, max_hamming <= 1;
    # chunks=8 -> 8-bit pieces, max_hamming <= 7 — the high-threshold
    # regime where pairs meet in MANY buckets and the shuffle-free dedup
    # does the most work).
    import itertools

    import numpy as np

    from hadoop_word_score_spark.operators.dedup import hamming_near_pairs

    rng = np.random.RandomState(29)
    base = [int(x) for x in rng.randint(-(2**62), 2**62, 30)]
    hashes = list(base)
    for i in range(0, 30, 3):  # plant neighbours at distances 1..7
        flip = 0
        for b in range((i % 7) + 1):
            flip |= 1 << ((11 * i + 17 * b) % 64)
        hashes.append(base[i] ^ flip)
    rows = [(i, h) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "doc_id long, hash long")
    for chunks, max_h in ((2, 1), (8, 7), (8, 4)):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs(
                df, max_hamming=max_h, chunks=chunks
            ).collect()
        }
        expect = set()
        for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= max_h:
                expect.add((min(ia, ib), max(ia, ib), d))
        assert got == expect, (chunks, max_h)
    assert len(expect) >= 5  # the fixture really planted in-threshold pairs
