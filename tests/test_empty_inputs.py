"""Empty-input robustness: every operator must return an empty result with
the right schema — not crash — when its input has zero rows (the common
case for a filtered partition at 100 TB)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def test_wordscore_empty(spark):
    from hadoop_word_score_spark.operators.wordscore import word_score

    out = word_score(spark.createDataFrame([], "stars double, text string"))
    assert out.columns == ["score", "word"]
    assert out.count() == 0


def test_dedup_family_empty(spark):
    from hadoop_word_score_spark.operators.dedup import (
        dedup_components,
        embedding_cosine_pairs,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    docs = _empty_docs(spark)
    assert exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0
    assert simhash_near_pairs(docs).count() == 0
    assert embedding_cosine_pairs(_empty_vecs(spark)).count() == 0
    assert dedup_components(
        spark.createDataFrame([], "id_a long, id_b long")
    ).count() == 0


def test_similarity_empty(spark):
    from hadoop_word_score_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )

    vecs = _empty_vecs(spark)
    assert brute_force_topk(vecs, vecs, k=5).count() == 0
    assert lsh_bucketed_topk(vecs, vecs, k=5).count() == 0
    # IVF: the closure-based centroid build must short-circuit on an empty
    # candidate set (no seed vectors to collect) with the right schemas
    from hadoop_word_score_spark.operators.similarity import ivf_topk

    out = ivf_topk(vecs, vecs, k=5)
    assert out.columns == ["query_id", "cand_id", "cosine_sim", "rank"]
    assert out.count() == 0


def test_asof_empty_sides(spark):
    from hadoop_word_score_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5, "a")], "k int, ts int, tag string")
    empty_r = spark.createDataFrame([], "k int, ts int, v double")
    out = asof_join(left, empty_r, on="k", how="left")
    assert out.count() == 1
    assert out.collect()[0].asof_v is None
    empty_l = spark.createDataFrame([], "k int, ts int, tag string")
    right = spark.createDataFrame([(1, 9, 1.0)], "k int, ts int, v double")
    assert asof_join(empty_l, right, on="k", how="left").count() == 0


def test_short_docs_yield_no_shingles(spark):
    # docs with < n tokens must produce empty shingle sets, not crash
    from hadoop_word_score_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a"), (4, "x y z w"), (5, "x y z w")],
        "doc_id long, text string",
    )
    exact = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    approx = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in exact} == {(4, 5)}
    assert {(r.id_a, r.id_b) for r in approx} == {(4, 5)}


def test_round6_operators_empty(spark):
    import numpy as np

    from hadoop_word_score_spark.operators.bpe import learn_merge_rules
    from hadoop_word_score_spark.operators.frequent import heavy_hitters_topk
    from hadoop_word_score_spark.operators.linalg import covariance_partials

    # heavy hitters over zero tokens: empty summary, empty top-k
    toks = spark.createDataFrame([], "term string")
    assert heavy_hitters_topk(toks, "term", k=5, capacity=8).count() == 0

    # BPE on an empty corpus (and on docs with < 2 tokens): no rules
    docs = spark.createDataFrame([], "txt string")
    assert learn_merge_rules(docs, "txt", n_rules=2) == []
    one_tok = spark.createDataFrame([("solo",), ("",)], "txt string")
    assert learn_merge_rules(one_tok, "txt", n_rules=2) == []

    # covariance partials over zero vectors: zero-count partial rows only
    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    parts = covariance_partials(vecs, "embedding", 4).collect()
    assert sum(r.n for r in parts) == 0
    assert all(np.allclose(r.sx, 0) for r in parts)


def test_ewma_and_sessionize_empty(spark):
    # the registered event queries must survive a zero-row events table
    from hadoop_word_score_spark.plans.queries import REGISTRY

    import os
    import tempfile

    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = os.path.join(d, "sf")
        os.makedirs(sf)
        spark.createDataFrame(
            [],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(sf, "events.parquet"))
        assert REGISTRY["events_ewma_value"].fn(spark, sf).count() == 0
        assert REGISTRY["sessionize_events"].fn(spark, sf).count() == 0


def test_round7_operators_empty(spark):
    from hadoop_word_score_spark.operators.bpe import (
        learn_subword_rules,
        subword_vocab,
    )
    from hadoop_word_score_spark.operators.frequent import cms_cells, cms_estimates
    from hadoop_word_score_spark.operators.graph import pagerank
    from hadoop_word_score_spark.operators.multimodal import (
        extract_audio_metadata,
        extract_video_frame_metadata,
    )

    docs = spark.createDataFrame([], "txt string")
    assert learn_subword_rules(docs, "txt", 3) == []
    assert subword_vocab(docs, "txt").count() == 0

    toks = spark.createDataFrame([], "term string")
    assert cms_cells(toks).count() == 0
    est = cms_estimates(toks, spark.createDataFrame([("x",)], "term string"))
    # probing an empty sketch yields estimate 0, never a crash or a miss
    assert [(r.term, r.n_cms) for r in est.collect()] == [("x", 0)]

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges, iterations=2)
    assert out.columns == ["node", "rank"] and out.count() == 0

    payloads = spark.createDataFrame([], "doc_id long, payload binary")
    assert extract_audio_metadata(payloads).count() == 0
    assert extract_video_frame_metadata(payloads).count() == 0


def test_round8_operators_empty(spark):
    import pytest

    from hadoop_word_score_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from hadoop_word_score_spark.sources.catalog import collect_table_stats

    # kmeans: fitting an empty corpus fails fast (covariance_matrix
    # convention); assigning an EMPTY relation under fitted centroids is
    # fine (zero rows out, schema intact)
    vecs = _empty_vecs(spark)
    with pytest.raises(ValueError, match="empty corpus"):
        kmeans_fit(vecs, "embedding", "vec_id", k=2, iterations=1)
    cents = [(0, [0.0] * 4), (1, [1.0] * 4)]
    small = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = kmeans_assign(small, "embedding", cents)
    assert out.count() == 0
    assert {"cluster", "sqdist"} <= set(out.columns)

    # table profile of an empty relation: one row per column with n_rows=0,
    # ndv=0, NULL min/max (profile the empty relation directly)
    from hadoop_word_score_spark.sources.catalog import _profile_one

    prof = _profile_one(
        spark.createDataFrame([], "a long, b string"), "t", approx=False
    ).collect()
    assert {r.col: (r.n_rows, r.n_nulls, r.ndv, r.min_val, r.max_val) for r in prof} == {
        "a": (0, 0, 0, None, None),
        "b": (0, 0, 0, None, None),
    }


def test_round8_text_index_dedup_empty(spark):
    # the three r8 text/index/dedup queries must survive a zero-row
    # documents table (registry fns take an sf_dir, so stage one)
    import os
    import tempfile

    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, [])
        for name in ("pmi_collocations", "inverted_index_terms", "dedup_containment"):
            assert REGISTRY[name].fn(spark, sf).count() == 0, name


def test_round9_operators_empty(spark):
    from hadoop_word_score_spark.operators.basket import association_rules
    from hadoop_word_score_spark.operators.graph import triangle_counts
    from hadoop_word_score_spark.operators.intervals import (
        concurrency_profile,
    )
    from hadoop_word_score_spark.operators.linkage import (
        blocked_fuzzy_pairs,
        sorted_neighbourhood_pairs,
    )
    from hadoop_word_score_spark.operators.merge import snapshot_diff
    from hadoop_word_score_spark.operators.rank import global_rank

    empty_edges = spark.createDataFrame([], "src int, dst int")
    out = triangle_counts(empty_edges)
    assert out.columns == ["node", "triangles"] and out.count() == 0

    empty_baskets = spark.createDataFrame([], "basket long, item string")
    out = association_rules(empty_baskets)
    assert out.columns == [
        "antecedent", "consequent", "n_pair", "support", "confidence", "lift",
    ]
    assert out.count() == 0

    empty_named = spark.createDataFrame([], "id long, name string, blk string")
    out = blocked_fuzzy_pairs(empty_named, "id", "name", ("blk",))
    assert out.columns == ["id_a", "id_b", "name_a", "name_b", "distance"]
    assert out.count() == 0
    out = sorted_neighbourhood_pairs(empty_named, "id", "name", "name")
    assert out.columns == ["id_a", "id_b", "name_a", "name_b", "distance"]
    assert out.count() == 0

    out = global_rank(spark.createDataFrame([], "id long, v long"), ["v", "id"])
    assert "grank" in out.columns and out.count() == 0

    empty_snap = spark.createDataFrame([], "k long, v string")
    out = snapshot_diff(empty_snap, empty_snap, ["k"])
    assert out.columns == ["k", "change_type"] and out.count() == 0

    empty_iv = spark.createDataFrame([], "start_s long, end_s long")
    out = concurrency_profile(empty_iv)
    assert out.columns == [
        "bucket_start_s", "n_starts", "n_ends", "max_concurrency",
    ]
    assert out.count() == 0


def test_equi_depth_histogram_empty_and_all_null(spark):
    from hadoop_word_score_spark.sources.catalog import equi_depth_histogram

    empty = spark.createDataFrame([], "v double, id long")
    for exact in (True, False):
        out = equi_depth_histogram(empty, "v", "id", k=4, exact=exact)
        assert out.columns == ["bucket", "n_rows", "lo", "hi"]
        assert out.count() == 0
    nulls = spark.createDataFrame([(None, 1), (None, 2)], "v double, id long")
    assert equi_depth_histogram(nulls, "v", "id", k=4, exact=True).count() == 0


def test_r10_operators_empty(spark):
    from hadoop_word_score_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )
    from hadoop_word_score_spark.operators.graph import kcore_nodes
    from hadoop_word_score_spark.operators.importance import (
        dsir_logratio_scores,
    )

    docs = _empty_docs(spark)
    out = jaccard_prefix_filter_pairs(docs)
    assert out.columns == ["id_a", "id_b", "n_common", "jaccard"]
    assert out.count() == 0
    edges = spark.createDataFrame([], "src long, dst long")
    out = kcore_nodes(edges, k=2)
    assert out.columns == ["node", "core_degree"]
    assert out.count() == 0
    docs3 = spark.createDataFrame([], "doc_id long, text string, source string")
    out = dsir_logratio_scores(docs3, target=F.col("source") == "t")
    assert out.columns == ["id", "n_tokens", "dsir_score"]
    assert out.count() == 0


def test_round11_operators_empty(spark):
    import tempfile

    from hadoop_word_score_spark.operators.mixture import mixture_waterfill
    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    # the water-fill planner: zero sources -> zero budgets, no crash on the
    # empty 1-row aggregate cross join
    tc = spark.createDataFrame([], "source string, n_tokens long")
    assert mixture_waterfill(tc, weights={"a": (3, 2)}).count() == 0

    # the two r11 document queries over a zero-row corpus
    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, [])
        for name in ("quality_top_ngram_mass", "corpus_zipf_slope"):
            assert REGISTRY[name].fn(spark, sf).count() == 0, name


def test_round12_operators_empty(spark):
    import tempfile

    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    # the r12 document-shaped queries over a zero-row corpus: empty result,
    # no crash (BPE learns zero merges, coverage has no mass, the dedup
    # policy and the classifier see no documents)
    names = (
        "bpe_encode_corpus",
        "bpe_encode_sequences",
        "vocab_coverage_topk",
        "dedup_lines_c4",
        "quality_classifier_score",
    )
    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, [])
        for name in names:
            assert REGISTRY[name].fn(spark, sf).count() == 0, name

    # the r12 operator APIs directly: empty frame in, empty frame out with
    # the declared columns; the classifier's weight-table contract fails
    # fast rather than producing drifting float sums
    import pytest

    from hadoop_word_score_spark.operators.classifier import (
        hashed_linear_score,
    )
    from hadoop_word_score_spark.operators.dedup import dedup_lines_keep_first

    docs = _empty_docs(spark)
    out = dedup_lines_keep_first(docs)
    assert out.columns == ["doc_id", "n_segs", "n_removed", "clean_text"]
    assert out.count() == 0
    out = hashed_linear_score(docs, weights=[1, -1])
    assert out.columns == ["doc_id", "text", "n_features", "margin"]
    assert out.count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        hashed_linear_score(docs, weights=[])
    with pytest.raises(ValueError, match="integers"):
        hashed_linear_score(docs, weights=[0.5, 1.0])


def test_round13_operators_empty(spark):
    import tempfile

    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    # the r13 document-shaped queries over a zero-row corpus: empty result,
    # no crash (zero merges learned, no id vocabulary, nothing to pack or
    # decode)
    names = (
        "bpe_encode_ids",
        "bpe_decode_corpus",
        "bpe_tokenizer_roundtrip",
        "pack_segments",
    )
    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, [])
        for name in names:
            assert REGISTRY[name].fn(spark, sf).count() == 0, name

    # the r13 operator APIs directly: empty in, empty out with the declared
    # columns
    from hadoop_word_score_spark.operators.bpe import (
        decode_corpus_ids,
        encode_corpus_ids,
        subword_id_vocab,
        subword_vocab,
    )
    from hadoop_word_score_spark.operators.packing import pack_segments

    docs = _empty_docs(spark)
    vocab = subword_vocab(docs, "text")
    idv = subword_id_vocab(vocab, rules=[])
    assert idv.columns == ["sid", "subword", "sfreq"] and idv.count() == 0
    ids = encode_corpus_ids(docs, "doc_id", "text", rules=[], vocab=vocab,
                            id_vocab=idv)
    assert ids.columns == ["doc_id", "n_bpe_tokens", "token_ids"]
    assert ids.count() == 0
    dec = decode_corpus_ids(ids, idv)
    assert dec.columns == ["doc_id", "text"] and dec.count() == 0
    sized = spark.createDataFrame(
        [], "source string, doc_id long, n_tokens long"
    )
    segs = pack_segments(sized, capacity=16)
    assert segs.columns == [
        "source", "bin_id", "doc_id", "bin_offset", "doc_offset", "seg_len"
    ]
    assert segs.count() == 0


def test_round14_operators_empty(spark):
    import tempfile

    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    # the r14 document-shaped queries over a zero-row corpus
    names = ("html_extract_text", "html_extract_funnel",
             "bpe_encode_ids_heldout", "bpe_decode_heldout",
             "html_extract_links", "html_links_pagerank",
             "normalize_text_nfc", "decontaminate_fuzzy")
    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, [])
        for name in names:
            assert REGISTRY[name].fn(spark, sf).count() == 0, name

    # markup extraction directly: empty in, empty out, declared shape
    from hadoop_word_score_spark.operators.markup import (
        extract_lines,
        render_markup,
    )

    docs = _empty_docs(spark)
    out = docs.select(
        extract_lines(render_markup(F.col("text"), F.col("doc_id"))).alias("ls")
    )
    assert out.count() == 0

    # oov='bytes' with an empty corpus: byte reserve only, encode empty
    from hadoop_word_score_spark.operators.bpe import (
        encode_corpus_ids,
        subword_id_vocab,
        subword_vocab,
    )

    vocab = subword_vocab(docs, "text")
    idv = subword_id_vocab(vocab, rules=[], oov="bytes")
    assert idv.count() == 256  # the reserved byte rows
    ids = encode_corpus_ids(docs, "doc_id", "text", rules=[],
                            id_vocab=idv, oov="bytes")
    assert ids.columns == ["doc_id", "n_bpe_tokens", "token_ids"]
    assert ids.count() == 0

    # tombstone delete with an empty batch: 0, and no manifest created
    import tempfile as _tf

    from hadoop_word_score_spark.operators.similarity import (
        ann_index_delete,
        ann_index_vacuum,
        load_ann_tombstones,
    )

    with _tf.TemporaryDirectory(dir=".") as d:
        assert ann_index_delete(_empty_vecs(spark), d) == 0
        assert load_ann_tombstones(spark, d) is None
        assert ann_index_vacuum(spark, d) == {
            "cells_rewritten": 0, "cells_dropped": 0, "rows_removed": 0
        }


def test_round15_operators_empty(spark):
    import tempfile

    from hadoop_word_score_spark.plans.queries import REGISTRY

    from tests.conftest import stage_documents_sf

    # the r15 document-shaped queries over a zero-row corpus: perceptual
    # near-dup x3 modalities, multiclass routing, host governance, the
    # frontier, and URL admission control
    names = ("dedup_near_phash", "dedup_near_audio", "dedup_near_video",
             "dedup_apply_perceptual", "lang_classifier_score",
             "html_links_by_host", "crawl_frontier_topk",
             "crawl_url_filter", "classifier_pr_curve",
             "host_quality_blocklist")
    with tempfile.TemporaryDirectory(dir=".") as d:
        sf = stage_documents_sf(spark, d, [])
        for name in names:
            assert REGISTRY[name].fn(spark, sf).count() == 0, name

    # perceptual hashes directly: empty in, empty out, declared schema
    from hadoop_word_score_spark.operators.multimodal import (
        audio_envelope_hash64,
        image_ahash64,
        image_dhash64,
        video_framehash64,
    )

    payloads = spark.createDataFrame([], "doc_id long, payload binary")
    assert image_ahash64(payloads).columns == ["doc_id", "ahash"]
    assert image_ahash64(payloads).count() == 0
    assert image_dhash64(payloads).count() == 0
    assert audio_envelope_hash64(payloads).count() == 0
    out = video_framehash64(payloads)
    assert out.columns == ["doc_id", "videohash"] and out.count() == 0

    # URL helpers on degenerate input: canonicalize/host/path never crash
    from hadoop_word_score_spark.operators.markup import (
        canonicalize_url,
        url_host,
        url_path,
    )

    urls = spark.createDataFrame([], "u string")
    row = urls.select(
        canonicalize_url(F.col("u")).alias("c"),
        url_host(F.col("u")).alias("h"),
        url_path(F.col("u")).alias("p"),
    )
    assert row.count() == 0


def test_perceptual_ingest_empty_batch_and_empty_hamming(spark, tmp_path):
    # An empty micro-batch must still commit (schema-intact zero-row batch
    # dirs, pointer advances) so the replay guard sees it; the
    # cross-relation Hamming join over empty sides yields zero pairs.
    from hadoop_word_score_spark.operators.dedup import (
        incremental_hamming_pairs,
    )
    from hadoop_word_score_spark.operators.multimodal import image_ahash64
    from hadoop_word_score_spark.streaming.ingest import (
        perceptual_ingest_sink,
        read_ingested,
    )

    hashes = spark.createDataFrame([], "doc_id long, hash long")
    some = spark.createDataFrame([(1, 5)], "doc_id long, hash long")
    assert incremental_hamming_pairs(hashes, some).count() == 0
    assert incremental_hamming_pairs(some, hashes).count() == 0

    target = str(tmp_path / "media")
    sink = perceptual_ingest_sink(target, hashers={"ahash8x8": image_ahash64})
    empty = spark.createDataFrame([], "doc_id long, payload binary")
    sink(empty, 0)
    got = read_ingested(spark, target)
    assert got is not None and got.count() == 0
