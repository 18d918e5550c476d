"""Physical-plan assertions — the 100 TB story, checked mechanically.

These tests read ``.explain`` output: filters reach the parquet scan, column
pruning works, bounded dims broadcast, partial aggregation exists, and the
whole REF pipeline runs without a cartesian product. A correct answer computed
with the wrong plan fails here.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from hadoop_word_score_spark.plans.queries import REGISTRY
from tests.conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_project_pushdown(spark):
    plan = formatted_plan(spark, "filter_project")
    # predicates reach the parquet reader…
    assert "PushedFilters:" in plan
    assert re.search(r"PushedFilters:.*GreaterThan\(l_discount", plan)
    # …and the scan schema is pruned to the 6 referenced columns, not all 11
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(read_cols) == {
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag",
    }


def test_wordscore_plan_shape(spark):
    plan = plan_of(spark, "wordscore")
    # partial+final aggregation = the reference's combiner (CWS:180-181), free
    assert plan.count("HashAggregate") >= 2
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    # the scan only reads the two consumed columns
    assert "doc_id" in plan and "text" in plan
    assert "n_chars" not in plan  # pruned


def test_q5_broadcasts_bounded_dims(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "wordscore_top10")
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "join_range_theta")
    assert "BroadcastNestedLoopJoin" in plan


def test_whole_stage_codegen_active(spark):
    # AQE prints codegen spans only in the final plan — execute first.
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n) Operator" in simpleString
    assert re.search(r"\*\(\d+\)", plan), plan


def test_scan_partition_sizing(spark):
    # maxPartitionBytes present so a 100 TB scan splits into bounded tasks
    assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) <= 256 * 1024 * 1024
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_asof_join_single_shuffle(spark):
    plan = plan_of(spark, "asof_join_events")
    # union+window composition: exactly one exchange for the window partition
    # (plus AQE reuse), and crucially no join of the two event streams at all
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_subqueries_decorrelate_to_joins(spark):
    # EXISTS → left semi; NOT EXISTS → left anti; no nested-loop per-row plans
    semi = plan_of(spark, "subquery_exists")
    anti = plan_of(spark, "subquery_not_exists")
    assert "LeftSemi" in semi or "SemiJoin" in semi
    assert "LeftAnti" in anti or "AntiJoin" in anti
    corr = plan_of(spark, "subquery_correlated_scalar")
    assert "CartesianProduct" not in corr


def test_salted_join_spreads_shuffle_key(spark):
    plan = plan_of(spark, "join_salted_skew")
    # the join's shuffle key must include the salt column
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_q14_pushes_month_filter(spark):
    plan = formatted_plan(spark, "q14_promo_effect")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan)
    assert "CartesianProduct" not in plan


def executed_plan_of(spark, name: str) -> str:
    # AQE finalizes join strategy from runtime stats — the plan worth
    # asserting only exists after execution.
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dehinted_sf_scaled_joins_still_broadcast_via_aqe(spark):
    # r4 verdict: explicit broadcast hints on SF-scaled sides (part,
    # supplier, per-user aggregates) bypass AQE's size check and hard-fail
    # at 100 TB (BroadcastExchange: 8 GiB / 512M rows). The hints are gone;
    # this pins the other half of the contract — at bench/test SF, AQE's
    # runtime conversion still picks BroadcastHashJoin, so dropping the
    # hints cost nothing locally while making the plan scale-safe.
    for name in (
        "q14_promo_effect",
        "q19_disjunctive_revenue",
        "q16_supplier_counts",
        "q7_nation_volume",
        "q8_market_share",
        "q17_small_quantity_revenue",
        "q21_waiting_supplier",
        "cohort_retention_weekly",
    ):
        plan = executed_plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no AQE broadcast\n{plan}"
        assert "CartesianProduct" not in plan, name


def test_q18_topk_without_full_sort(spark):
    plan = plan_of(spark, "q18_large_volume")
    assert "TakeOrderedAndProject" in plan
    # exactly one real shuffle: the lineitem qty aggregation; both joins build
    # on broadcast sides
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_sample_is_scan_side(spark):
    # the sampling predicate must not force a shuffle — one stage, no Exchange
    plan = plan_of(spark, "sample_hash_mod")
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_round16_banded_self_joins_reuse_under_aqe(spark):
    # The AQE-ON twin of test_round16_banded_self_joins_reuse_exchange
    # (r16 optimization): under the PRODUCTION config AQE may broadcast
    # one side of the banded self-join, and a BroadcastExchange side is
    # never canonically equal to the probe side — the expensive sign/hash
    # subtree then executes once PER SIDE (observed in the executed final
    # plan before the merge hints: two sig() ArrowEvalPython stages, zero
    # reuse). With the hints the EXECUTED adaptive plan must contain a
    # ReusedExchange and exactly one signing evaluation. Asserted on the
    # runtime plan (collect first), not explain — pre-execution AQE plans
    # never show stage reuse.
    from hadoop_word_score_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some words repeated here "),
                 (F.col("id") % 50)).alias("text"),
    )
    for df, udf_marker in (
        (minhash_lsh_pairs(docs), "sig("),
        (simhash_near_pairs(docs), None),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final[:500]
        assert "ReusedExchange" in final, final
        if udf_marker is not None:
            n_evals = sum(
                udf_marker in line and "ArrowEvalPython" in line
                for line in final.splitlines()
            )
            assert n_evals == 1, final


def test_minhash_verify_single_shingle_subtree(spark):
    # the verification path computes the tokenize→shingle chain once: exactly
    # one scan of documents feeds a shingle projection into the verify join
    # (the banding path reads documents separately via the signature UDF)
    plan = plan_of(spark, "dedup_near_minhash")
    assert plan.count("transform(array_remove(split(") <= 1


def test_doc_length_buckets_prunes_to_one_column(spark):
    # the histogram reads ONLY n_chars — a scan of all 5 document columns
    # for a 1-column aggregate would be wrong at 100 TB
    plan = formatted_plan(spark, "doc_length_buckets")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and [c.split(":")[0] for c in m.group(1).split(",")] == ["n_chars"]


def test_bigram_counts_has_map_side_combine(spark):
    # tokenize + pair-expand are narrow; the one shuffle carries partial
    # counts (paired partial/final HashAggregate), same family as wordscore
    plan = plan_of(spark, "bigram_counts")
    assert plan.count("HashAggregate") >= 2
    assert "Generate explode" in plan


def test_all_tables_serve_declared_schema(spark):
    # The registry's declared schemas are the engine contract: every loader
    # must serve exactly them, regardless of how the driver re-encodes the
    # parquet (the events ts ns->us regeneration flipped served types once;
    # orders/lineitem timestamps would drift to timestamp_ntz under
    # inference). This is the assertion the registry docstring cites.
    from hadoop_word_score_spark.sources.registry import TABLES, load_table

    for name, declared in TABLES.items():
        served = load_table(spark, SF_ORACLE, name).schema
        assert [(f.name, f.dataType) for f in served.fields] == [
            (f.name, f.dataType) for f in declared.fields
        ], f"{name}: served schema != declared"


def test_events_loader_normalizes_ts_to_declared_type(spark):
    # current testdata encodes ts as TIMESTAMP(MICROS, isAdjustedToUTC=false);
    # the loader must serve the registry-declared TimestampType (not the
    # inferred timestamp_ntz), without touching the legacy nanos conf, and
    # with ts predicates still reaching the parquet scan
    from hadoop_word_score_spark.sources.registry import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = load_table(spark, SF_ORACLE, "events")
    assert spark.conf.get(key) == "false"  # untouched on the µs path
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() > 0
    plan = df.filter(F.col("ts") >= "2024-01-02")._sc._jvm.PythonSQLUtils.explainString(
        df.filter(F.col("ts") >= "2024-01-02")._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts", plan)


def test_events_loader_legacy_nanos_branch(spark, tmp_path):
    # legacy driver testdata carried TIMESTAMP(NANOS); the loader must still
    # read such files (scoped legacy conf, integer ns→µs narrowing) and serve
    # the same declared TimestampType, with the conf restored afterwards
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_word_score_spark.sources.registry import load_table

    ns = pa.array([1_700_000_000_123_456_789, 1_700_000_111_987_654_321],
                  type=pa.timestamp("ns"))
    tbl = pa.table({
        "event_id": pa.array([1, 2], type=pa.int64()),
        "ts": ns,
        "user_id": pa.array([10, 20], type=pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"),
                   coerce_timestamps=None, version="2.6")

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(key) == "false"  # restored after the scoped read
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = {r.event_id: r.ts for r in df.collect()}
    # integer truncation ns→µs (matches DuckDB), not float rounding
    assert rows[1].microsecond == 123456
    assert rows[2].microsecond == 987654


def test_q2_decorrelates_to_window_min(spark):
    # the correlated per-part MIN must run as a window over the eligible
    # set (one shuffle), not a re-scan/self-join per probe row, and the
    # LIMIT must ride a TakeOrderedAndProject, not a global sort
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q20_is_a_semi_join_chain(spark):
    # part membership and the final supplier filter are LeftSemi (no row
    # multiplication anywhere), with no cartesian fallback
    plan = plan_of(spark, "q20_excess_stock")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_prunes_partitions(spark):
    # the probe half of the IVF split must read ONLY the probed cells:
    # a literal cell IN (...) predicate on the partition column, visible as
    # PartitionFilters at the scan (r5 verdict #2). A single query probes
    # exactly n_probe of the _IVF_N_CELLS partitions.
    from hadoop_word_score_spark.operators.similarity import ivf_probe_topk
    from hadoop_word_score_spark.plans.queries import (
        _IVF_N_CELLS,
        _ensure_ivf_index,
        _t,
    )

    em = _t(spark, SF_ORACLE, "embeddings")
    q1 = em.filter(F.col("vec_id") == 3)
    path = _ensure_ivf_index(spark, SF_ORACLE)
    probe = ivf_probe_topk(spark, path, q1, k=5, n_probe=3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # small lists render as "IN (3,5,18)", larger ones as "INSET 3, 5, …"
    m = re.search(r"PartitionFilters: \[cell[^\]]* IN(?:SET)? \(?([\d, ]+)\)?\]", plan)
    assert m, f"no partition filter at the index scan:\n{plan}"
    probed = m.group(1).split(",")
    assert len(probed) == 3 < _IVF_N_CELLS
    assert probe.count() == 5  # and the pruned probe still serves top-k


def test_ivfpq_probe_prunes_partitions_and_reads_no_vectors(spark):
    # The compressed probe must (1) read ONLY the probed cells — literal
    # cell IN (...) partition filter, same contract as the raw IVF index —
    # and (2) scan a schema with NO embedding column at all: the 16x byte
    # saving is only real if the codes are the widest thing read.
    from hadoop_word_score_spark.operators.pq import ivfpq_probe_topk
    from hadoop_word_score_spark.plans.queries import (
        _IVF_N_CELLS,
        _ensure_ivfpq_index,
        _t,
    )

    em = _t(spark, SF_ORACLE, "embeddings")
    q1 = em.filter(F.col("vec_id") == 3)
    path = _ensure_ivfpq_index(spark, SF_ORACLE)
    probe = ivfpq_probe_topk(spark, path, q1, k=5, n_probe=3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell[^\]]* IN(?:SET)? \(?([\d, ]+)\)?\]", plan)
    assert m, f"no partition filter at the pq index scan:\n{plan}"
    assert len(m.group(1).split(",")) == 3 < _IVF_N_CELLS
    rs = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert rs and "embedding" not in rs.group(1) and "pq_code" in rs.group(1)
    assert probe.count() == 5


def test_lsh_topk_scores_in_one_arrow_scan(spark):
    # sign-LSH runs the shared top-k kernel: one mapInPandas over the
    # candidates signs, masks and scores each batch. No sketch or per-pair
    # ArrowEvalPython and no bucket join; the broadcast joins left are the
    # recall summary's semi join to the planted ids and its one-row cross
    # join.
    plan = plan_of(spark, "similarity_topk_lsh")
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "bucket" not in plan, plan
    assert not re.search(r"BroadcastHashJoin .*Inner", plan), plan


def test_heavy_hitters_recount_is_broadcast_semi(spark):
    # Phase 2's exact recount must broadcast the bounded candidate set
    # (partitions x capacity rows) as a semi join — a shuffled semi join
    # would reintroduce the vocabulary-scale shuffle the operator exists to
    # avoid — and the final agg keeps map-side partials.
    plan = plan_of(spark, "heavy_hitters_terms")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan


def test_zorder_keys_is_pure_codegen(spark):
    # The z-key is bit arithmetic only: no Python workers anywhere in the
    # plan (a UDF here would put an Arrow hop in every write path using the
    # key), and the scan reads just the two clustered columns.
    plan = plan_of(spark, "zorder_keys")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "shiftleft" in plan  # the interleave stayed a JVM expression
    f = formatted_plan(spark, "zorder_keys")
    m = re.search(r"ReadSchema: struct<([^>]*)>", f)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_orderkey", "l_partkey",
    }, f


def test_corpus_drift_reuses_one_token_aggregation(spark):
    # The raw token stream is tokenized and aggregated to (source, term)
    # counts exactly ONCE (localCheckpoint), then every downstream subtree —
    # source totals, corpus term counts, the grand total, the KL sum —
    # scans that materialized partial instead of re-exploding the corpus:
    # the final plan contains no Generate at all, only ExistingRDD scans.
    plan = plan_of(spark, "corpus_drift_kl")
    assert "Generate explode" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_sql_adhoc_plans_match_dataframe_path(spark):
    # The ad-hoc SQL entry point must compile to the same physical shapes
    # the DataFrame API earns: the join's bounded nation dim broadcasts and
    # its status filter reaches the scan; the window query prunes to the
    # three referenced customer columns; the HOF query stays JVM-side (no
    # Python evaluation anywhere in a lambda-HOF plan).
    plan = executed_plan_of(spark, "sql_adhoc_join")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    f = formatted_plan(spark, "sql_adhoc_join")
    assert re.search(r"PushedFilters:.*EqualTo\(o_orderstatus,F\)", f), f

    f = formatted_plan(spark, "sql_adhoc_window")
    m = re.search(r"ReadSchema: struct<([^>]*)>", f)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "c_mktsegment", "c_custkey", "c_acctbal",
    }, f

    plan = plan_of(spark, "sql_adhoc_hof")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, scratch_dir):
    # The 100 TB join pattern: a fact table partitioned on the join key and
    # a selectively-filtered dim must produce a scan whose PartitionFilters
    # carry a dynamicpruningexpression — the fact side reads only the
    # partitions the dim's runtime result names, instead of all of them.
    import os

    from hadoop_word_score_spark.sources.registry import load_table

    p = os.path.join(scratch_dir, "orders_by_status")
    if not os.path.exists(p):
        load_table(spark, SF_ORACLE, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame([("F", 1)], "status string, flag int").filter(
        F.col("flag") == 1
    )
    j = (
        fact.join(dim, fact["o_orderstatus"] == dim["status"])
        .groupBy("o_orderstatus")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan
    # and the pruned read must actually return only the filtered partition
    assert [r.o_orderstatus for r in j.collect()] == ["F"]


def test_aqe_splits_skewed_join_partitions(spark):
    # The automatic half of the skew story (join_salted_skew is the manual
    # half): one key holding ~99% of a 200k-row side must make AQE's skew
    # join split the oversized partition — SortMergeJoin prints skew=true
    # in the FINALIZED plan. Thresholds are lowered test-scoped because the
    # defaults (256MB) target real clusters; restored afterwards.
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string").cast("binary")).alias("pad"),
        )
        right = spark.range(2000).select(F.col("id").alias("k"), F.lit("r").alias("v"))
        j = left.join(right, "k").select(F.length("pad").alias("l"))
        j.collect()  # count() would plan a different query; collect THIS one
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_table_profile_is_single_scan_per_table(spark):
    # collect_table_stats(approx=True): the 100 TB profile mode must stay
    # ONE partial/final aggregation per table — no count-distinct Expand
    # node (exact mode's k-fold row duplication), no extra shuffles.
    from hadoop_word_score_spark.sources.catalog import collect_table_stats
    from tests.conftest import SF_ORACLE

    prof = collect_table_stats(spark, SF_ORACLE, tables=["orders"], approx=True)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    exact = collect_table_stats(spark, SF_ORACLE, tables=["orders"], approx=False)
    assert "Expand" in exact._jdf.queryExecution().executedPlan().toString()
    # and approx row counts/nulls agree with exact; the HLL NDV sketch
    # lands within its documented ~2-3% relative error envelope (5% bound)
    e = {r.col: r for r in exact.collect()}
    for r in prof.collect():
        assert r.n_rows == e[r.col].n_rows and r.n_nulls == e[r.col].n_nulls
        exact_ndv = e[r.col].ndv
        if exact_ndv:
            assert abs(r.ndv - exact_ndv) / exact_ndv < 0.05, (r.col, r.ndv, exact_ndv)


def test_round8_text_index_dedup_plan_shapes(spark):
    # pmi: the only non-equi joins are the two 1-row totals (broadcast
    # nested-loop over a single row is free); pair/unigram joins stay
    # hash-based. No cartesian anywhere.
    plan = plan_of(spark, "pmi_collocations")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2

    # inverted index: the rn <= 5 rank filter is pushed INTO the window as
    # a group-limit, so the per-term sort never materializes unbounded
    # posting lists before truncation.
    plan = plan_of(spark, "inverted_index_terms")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan

    # containment: the shingle self-join is an equi-join on the 8-byte
    # hashed key — never a nested loop or cartesian over documents.
    plan = plan_of(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_fact_side_of_shuffle_join(spark):
    # Spark's InjectRuntimeFilter builds a bloom filter from the SELECTIVE
    # dim side and applies might_contain() on the fact side BEFORE its
    # shuffle — at 100 TB this drops most fact rows pre-Exchange. It only
    # arms when the fact scan exceeds applicationSideScanSizeThreshold
    # (default 10 GB — i.e. it is ON by default exactly at the scale we
    # target); test data is far smaller, so lower the threshold to pin the
    # injection itself.
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_ORACLE

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        orders = load_table(spark, SF_ORACLE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_ORACLE, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
        # the bloom probe must sit on the FACT side: every might_contain
        # line filters on the fact join key, not the dim key
        probe_lines = [l for l in plan.splitlines() if "might_contain" in l]
        assert probe_lines and all("l_orderkey" in l for l in probe_lines), plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))


def test_cluster_canonical_scores_above_the_membership_join(spark):
    # The tokenize+distinct quality score must evaluate AFTER the
    # components join prunes the corpus to cluster members — a projection
    # on the documents side would sit below the join and tokenize every
    # document (the shape the r9 fix removed). In the plan tree, parents
    # print before children: the single array_distinct projection must
    # appear above (before) the join node, never on a scan branch.
    plan = plan_of(spark, "dedup_cluster_canonical")
    assert plan.count("array_distinct") == 1
    assert "Join" in plan
    assert plan.index("array_distinct") < plan.index("Join")


def test_semdedup_pair_pass_is_pinned_grouped_python(spark):
    # The per-cluster gram pass must be a FlatMapGroupsInPandas stage fed
    # by an EXPLICIT numPartitions repartition (REPARTITION_BY_NUM) — an
    # ENSURE_REQUIREMENTS exchange there would be eligible for AQE's
    # bytes-based coalescing, which under-parallelizes grouped-Python
    # stages (cost is per-group, not per-byte; measured 3.2s -> 0.8s on
    # the ewma fold, same class).
    plan = plan_of(spark, "dedup_semantic")
    assert "FlatMapGroupsInPandas" in plan
    tail = plan[plan.index("FlatMapGroupsInPandas"):]
    first_exchange = tail[tail.index("Exchange"):].split("\n")[0]
    assert "REPARTITION_BY_NUM" in first_exchange, first_exchange


def test_entropy_profile_scans_each_table_exactly_once(spark):
    # The one-scan-per-table contract: profiling N columns of one table
    # explodes (col, value) pairs from a single struct array instead of
    # issuing a scan per column — 5 profiled tables, exactly 5 scans.
    plan = plan_of(spark, "stats_column_entropy")
    assert plan.count("FileScan parquet") == 5


def test_inverted_index_rank_filter_limits_inside_the_window(spark):
    # Spark's rank-limit pushdown (WindowGroupLimit) must absorb the
    # rn <= 5 filter: each term's posting head is truncated during the
    # window sort itself, so no full posting list ever reaches the filter
    # operator — the property that bounds the final aggregation's input
    # at 5 rows per term regardless of document frequency.
    plan = plan_of(spark, "inverted_index_terms")
    assert "WindowGroupLimit" in plan


def test_ngram_novelty_single_explode_and_map_side_combine(spark):
    # The totals side computes n_shingles as size(sv) INSIDE the narrow
    # scan — only the df-count side explodes, so exactly one Generate in
    # the whole plan. Both aggregations (shingle df, per-doc novel count)
    # carry paired partial/final HashAggregates: the corpus-proportional
    # shuffle moves combined (shingle, count) rows, never raw shingle rows.
    plan = plan_of(spark, "corpus_ngram_novelty")
    assert plan.count("Generate explode") == 1, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "CartesianProduct" not in plan


def test_round9_linkage_basket_triangle_plan_shapes(spark):
    # basket_association_rules: the A-priori frequent-item filter applies
    # as a broadcast join (LEFT SEMI via BroadcastHashJoin) so the basket
    # relation never shuffles to meet the tiny frequent set, and no
    # cartesian product appears anywhere
    plan = plan_of(spark, "basket_association_rules")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan

    # linkage_fuzzy_customers: one block-keyed self-join; the thresholded
    # levenshtein stays a codegen expression (no python/Arrow stage) —
    # BatchEvalPython/ArrowEvalPython would mean the distance fell off
    # the JVM path
    plan = plan_of(spark, "linkage_fuzzy_customers")
    assert "levenshtein" in plan, plan
    assert "EvalPython" not in plan, plan

    # graph_triangle_counts: degree orientation + wedge close are plain
    # equi-joins — a cartesian/nested-loop product would mean the
    # orientation produced a non-equi join shape
    plan = plan_of(spark, "graph_triangle_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equi_depth_histogram_approx_mode_is_one_agg_pass(spark):
    # the 100 TB path: boundaries come from ONE approx_percentile
    # aggregation; bucket assignment is literal comparisons inside the
    # scan — no Window, no sort, no range exchange in the final plan
    from hadoop_word_score_spark.sources.catalog import equi_depth_histogram
    from hadoop_word_score_spark.sources.registry import load_table

    o = load_table(spark, SF_ORACLE, "orders")
    df = equi_depth_histogram(o, "o_totalprice", "o_orderkey", k=8, exact=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only sort is the final ORDER BY over the k-row result — no
    # range exchange on the VALUE column (that would mean a global sort
    # of the data sneaked back in)
    import re as _re

    for m in _re.findall(r"rangepartitioning\(([^)]*)\)", plan):
        assert "bucket" in m and "val" not in m, plan


def test_sorted_neighbourhood_rank_join_is_equi_shuffle(spark):
    # the rank-probe join must be an equi hash/sort-merge join on the
    # integer rank (skew-free unique keys), never a nested loop; and the
    # global rank must NOT be a one-partition global window (the plan's
    # window is partitioned by the range-partition id)
    from hadoop_word_score_spark.operators.linkage import (
        sorted_neighbourhood_pairs,
    )
    from hadoop_word_score_spark.sources.registry import load_table

    s = load_table(spark, SF_ORACLE, "supplier")
    df = sorted_neighbourhood_pairs(
        s, "s_suppkey", "s_name", "s_name", window=2, max_distance=1
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "_rank_pid" in plan, plan  # window runs partition-local


def test_ohlc_is_one_hash_aggregate_no_window(spark):
    # the argmax family's selling point: open/close come from min_by/max_by
    # partials inside ONE map-side-combined hash aggregate — a naive
    # first/last-over-window resampler would pay a per-key Sort + Window
    plan = plan_of(spark, "events_ohlc_hourly")
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_pit_join_has_no_range_join_fanout(spark):
    # PIT via as-of: one union + one key-partitioned window — never a
    # nested-loop/range join of facts against version intervals
    plan = plan_of(spark, "pit_join_events_customer_history")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan, plan


def test_round10_new_op_plan_shapes(spark):
    # sample_weighted_priority: per-partition top-k + driver merge — the
    # ORDER BY ... LIMIT must compile to TakeOrderedAndProject, never a
    # global Sort of the corpus
    plan = plan_of(spark, "sample_weighted_priority")
    assert "TakeOrderedAndProject" in plan, plan
    # markov transitions: the LEAD window is user-partitioned (a bare
    # orderBy window would collapse to one task) and the pair count is a
    # real partial/final aggregate
    plan = plan_of(spark, "events_markov_transitions")
    assert "Window" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    # DSIR: the per-bucket weight table and the 1-row totals both attach
    # via broadcast — no shuffle join against the token stream, and no
    # cartesian anywhere
    plan = plan_of(spark, "corpus_importance_dsir")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_jaccard_prefix_plan_prefix_window_is_doc_partitioned(spark, monkeypatch):
    # the prefix-selection row_number runs per doc id — the plan must show
    # a hash-partitioned Window, and candidate generation must be a real
    # shuffle join on the shingle key (no nested loop fallback). The
    # operator localCheckpoints two relations (which would hide their
    # subtrees behind Scan ExistingRDD), so checkpointing is no-opped for
    # the inspection — the plan under test is the full declarative tree.
    from pyspark.sql.classic.dataframe import DataFrame  # instances' class

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, *a, **k: self
    )
    plan = plan_of(spark, "dedup_jaccard_prefix")
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_top_ngram_mass_is_scan_side(spark):
    # r11: the per-doc n-gram mode is a sorted-run fold over HOF arrays —
    # no Generate (explode), no Python, and the only exchange is the final
    # presentation sort's range partitioning.
    plan = plan_of(spark, "quality_top_ngram_mass")
    assert "Generate" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan
    ex = re.findall(r"Exchange (\w+)", plan)
    assert all(k.startswith("rangepartitioning") for k in ex), ex


def test_hourly_acf_scans_events_once(spark):
    # r11: hourly feeds three consumers under three different join keys
    # (h, h-1h, h-24h) — exchange reuse cannot fire, so without the
    # localCheckpoint the plan re-scanned events three times. The final
    # plan must contain NO parquet scan of events (all three consumers
    # read the checkpointed hour-cardinality relation).
    plan = plan_of(spark, "events_hourly_acf")
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_centroid_separation_scans_embeddings_twice(spark):
    # r11: the centroid relation is checkpointed for its three consumers;
    # the remaining parquet scans are exactly the two corpus passes the
    # docstring promises (centroid build inside the checkpoint + the
    # within-spread pass).
    plan = plan_of(spark, "embedding_centroid_separation")
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_cusum_single_exchange_feeds_all_windows(spark):
    # r11: mean, running sum and rank all partition by event_type — one
    # hash exchange on the hourly relation must feed every Window node
    # (plus the count exchange and the output sort, nothing else).
    plan = plan_of(spark, "events_cusum_changepoint")
    hash_ex = re.findall(r"Exchange hashpartitioning\(event_type", plan)
    assert len(hash_ex) == 2, plan  # 1 for the (type,hour) agg, 1 for windows


def test_per_stratum_topk_uses_window_group_limit(spark):
    # r11: the rank<=20 filter must compile to WindowGroupLimit (partial +
    # final), so each map partition forwards at most k rows per lang BEFORE
    # the lang exchange — never a full per-group sort of the corpus.
    plan = plan_of(spark, "sample_weighted_per_stratum")
    assert plan.count("WindowGroupLimit") == 2, plan


def test_sample_plan_execution_single_scan_broadcast_plan(spark):
    # r11: the planner and the executor share ONE checkpointed token scan
    # (zero parquet scans left in the final plan) and the 20-row plan joins
    # back broadcast.
    plan = plan_of(spark, "corpus_sample_plan_execution")
    assert "Scan parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_round15_url_filter_and_video_plan_shapes(spark):
    # crawl_url_filter: the blocklist attaches as a BROADCAST join (the
    # curated dim-table pattern — never a shuffle join against the URL
    # stream), there is no cartesian anywhere, and the admission counts
    # are a real partial/final aggregate
    plan = plan_of(spark, "crawl_url_filter")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    # dedup_near_video: render + demux + hash ride the scan (one Arrow
    # eval per side of the union, no shuffle before the banded join's
    # chunk exchange); the join itself is an equi hash/SMJ on
    # (chunk_idx, chunk_val) — never a cartesian or a broadcast of the
    # corpus-sized hash relation
    plan = plan_of(spark, "dedup_near_video")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_round16_pr_curve_bound_and_hamming_join_shapes(spark):
    # classifier_pr_curve (r15 verdict #2): the validation bound is IN the
    # plan — the single-partition rank window sits above a global limit
    # (TakeOrderedAndProject / partial+global Limit), so no corpus-sized
    # relation can reach the SinglePartition exchange at any scale.
    plan = plan_of(spark, "classifier_pr_curve")
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan, plan
    assert "Window" in plan, plan
    # hamming_near_pairs (r15 verdict #1): the within-corpus perceptual
    # pairing is an equi JOIN on (chunk_idx, chunk_val) — AQE skew-split
    # eligible, O(partition) memory — never a collect_list bucket array
    # (one degenerate chunk value would pull a corpus-sized array into a
    # single executor) and never a cartesian.
    plan = plan_of(spark, "dedup_near_phash")
    assert "collect_list" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_round16_banded_self_joins_reuse_exchange(spark):
    # In the non-broadcast (100 TB) regime the banded self-joins' two
    # sides are canonically equal, so the expensive hash/signing pass and
    # its shuffle run ONCE — the second side must be a ReusedExchange.
    # Also pins the skew-safe shape for the text families (no collect_list
    # bucket arrays anywhere in the pairing path — the r15 degenerate-
    # bucket exposure applied to simhash/minhash too: identical or
    # boilerplate docs collide in every band).
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.operators.dedup import (
        hamming_near_pairs,
        minhash_lsh_pairs,
        simhash_near_pairs,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        docs = spark.range(64).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("some words here "), F.col("id")).alias("text"),
        )
        hashed = spark.range(64).select(
            F.col("id").alias("doc_id"),
            (F.col("id") * 2654435761).alias("hash"),
        )
        for df in (
            hamming_near_pairs(hashed),
            simhash_near_pairs(docs),
            minhash_lsh_pairs(docs),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ReusedExchange" in plan, plan
            assert "collect_list" not in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_round17_link_queries_render_pages_once(spark):
    # r17 change A: the link-graph queries must evaluate the page-render
    # subtree exactly ONCE per run — raw/canonical URLs and the internal
    # edge list all extract in one pinned projection. Counted over the
    # EXECUTED SQL plans (the pin materializations run as tracked SQL
    # executions), not explain: the pins hide the render from the final
    # query's own plan. The marker is the internal-link extract pattern
    # (operators/markup.py::extract_link_ids), a literal of our own that
    # Spark's plan rendering passes through unchanged.
    store = spark._jsparkSession.sharedState().statusStore()
    retained = int(spark.conf.get("spark.sql.ui.retainedExecutions"))

    def executions():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def render_executions(name):
        start = max((e.executionId() for e in executions()), default=-1) + 1
        df = REGISTRY[name].fn(spark, SF_ORACLE)
        df.write.format("noop").mode("overwrite").save()
        new = [e for e in executions() if e.executionId() >= start]
        created = max(e.executionId() for e in new) + 1 - start
        # the store evicts its oldest executions past the retention limit,
        # which could hide a second render: fail instead of undercounting
        assert created < retained and len(new) == created, (
            f"{name}: {created} executions created, {len(new)} retained, "
            f"spark.sql.ui.retainedExecutions={retained}"
        )
        return sum("/doc/([0-9]+)" in e.physicalPlanDescription() for e in new)

    assert render_executions("html_links_by_host") == 1
    assert render_executions("crawl_frontier_topk") == 1
