"""Sources/sinks (SURVEY §2.1 S5/S7): round-trips, single-file TSV parity,
partition pruning, and the bucketed co-located join (no Exchange)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from hadoop_word_score_spark.sources import sinks
from hadoop_word_score_spark.sources.registry import TABLES, load_table
from tests.conftest import SF_SMOKE


def test_tsv_single_file_score_word(spark, scratch_dir):
    from hadoop_word_score_spark.operators.wordscore import write_word_scores
    from hadoop_word_score_spark.plans.queries import REGISTRY

    out = os.path.join(scratch_dir, "wordscore_tsv")
    df = REGISTRY["wordscore"].fn(spark, SF_SMOKE)
    write_word_scores(df.select("score", "word"), out)
    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1  # the reference's one-reducer/one-file contract
    first = open(parts[0]).readline().rstrip("\n").split("\t")
    assert len(first) == 2 and first[0].lstrip("-").isdigit()


def test_csv_roundtrip(spark, scratch_dir):
    out = os.path.join(scratch_dir, "nation_csv")
    nation = load_table(spark, SF_SMOKE, "nation")
    sinks.write_csv(nation, out)
    back = sinks.read_csv(spark, out, TABLES["nation"])
    assert sorted(back.collect()) == sorted(nation.collect())


def test_jsonl_roundtrip_and_failfast(spark, scratch_dir):
    out = os.path.join(scratch_dir, "region_jsonl")
    region = load_table(spark, SF_SMOKE, "region")
    sinks.write_jsonl(region, out)
    back = sinks.read_jsonl(spark, out, TABLES["region"])
    assert sorted(back.collect()) == sorted(region.collect())
    # corrupt line: permissive nulls it, failfast raises on materialize
    bad = os.path.join(scratch_dir, "bad_jsonl")
    os.makedirs(bad, exist_ok=True)
    with open(os.path.join(bad, "x.json"), "w") as f:
        f.write('{"r_regionkey": 1, "r_name": "ok"}\nnot json at all\n')
    assert sinks.read_jsonl(spark, bad, TABLES["region"]).count() == 2  # quarantined row kept
    try:
        sinks.read_jsonl(spark, bad, TABLES["region"], failfast=True).collect()
        raised = False
    except Exception:
        raised = True
    assert raised


def test_partitioned_write_prunes(spark, scratch_dir):
    out = os.path.join(scratch_dir, "orders_part")
    orders = load_table(spark, SF_SMOKE, "orders")
    sinks.write_partitioned_parquet(orders, out, ["o_orderstatus"])
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == orders.filter("o_orderstatus = 'F'").count()


def test_bucketed_join_no_exchange(spark, scratch_dir):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        lineitem = load_table(spark, SF_SMOKE, "lineitem")
        sinks.write_bucketed(orders, "orders_b", "o_orderkey", 8)
        sinks.write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
            "o_orderkey", 8,
        )
        j = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located: both sides read bucketed → the join needs NO shuffle
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_range_clustered_write_disjoint_files(spark, scratch_dir):
    import glob

    out = os.path.join(scratch_dir, "orders_clustered")
    orders = load_table(spark, SF_SMOKE, "orders")
    sinks.write_range_clustered(orders, out, "o_totalprice", n_files=4)
    # every output file covers a disjoint o_totalprice range
    ranges = []
    for p in sorted(glob.glob(os.path.join(out, "part-*.parquet"))):
        stats = (
            spark.read.parquet(p)
            .agg(F.min("o_totalprice"), F.max("o_totalprice"))
            .collect()[0]
        )
        ranges.append((stats[0], stats[1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping file ranges: {ranges}"
    # and nothing was lost
    assert spark.read.parquet(out).count() == orders.count()


def test_orc_roundtrip_nested_types(spark, scratch_dir):
    # ORC must carry the LLM-pipeline column shapes: array<float> embeddings
    # and binary payloads — plus pushdown-friendly scalars.
    out = os.path.join(scratch_dir, "emb_orc")
    em = load_table(spark, SF_SMOKE, "embeddings")
    payload = em.withColumn("blob", F.encode(F.col("label").cast("string"), "utf-8"))
    sinks.write_orc(payload, out)
    back = sinks.read_orc(spark, out)
    assert back.schema["embedding"].dataType.simpleString() == "array<float>"
    assert back.schema["blob"].dataType.simpleString() == "binary"
    assert back.count() == em.count()
    # predicate reaches the ORC scan (search-argument pushdown)
    plan = back.filter(F.col("vec_id") < 5)._jdf.queryExecution().executedPlan().toString()
    assert "vec_id" in plan and back.filter(F.col("vec_id") < 5).count() == 5


def test_sequence_file_roundtrip_reference_interop(spark, scratch_dir):
    # S3/S4 interop: the reference hands a SequenceFile<Text, IntWritable>
    # between its two jobs (CWS:170-176, 190-191); files we write must read
    # back through the same Hadoop input format, preserving types
    import os

    from hadoop_word_score_spark.sources.sinks import (
        read_sequence_file,
        write_sequence_file,
    )

    df = spark.createDataFrame(
        [("good", 4), ("bad", -2), ("good", 1)], "word string, score int"
    )
    path = os.path.join(scratch_dir, "seq_intermediate")
    write_sequence_file(df, path, "word", "score")
    back = read_sequence_file(spark, path, "word", "score")
    assert sorted(map(tuple, back.collect())) == [("bad", -2), ("good", 1), ("good", 4)]
    # and the Hadoop-typed read path (what the reference's job 2 does)
    typed = spark.sparkContext.sequenceFile(
        path, "org.apache.hadoop.io.Text", "org.apache.hadoop.io.IntWritable"
    ).collect()
    assert sorted(typed) == [("bad", -2), ("good", 1), ("good", 4)]


def test_schema_evolution_merge_and_projection(spark, tmp_path):
    # Ingestion over months adds columns: batch 2 gains `quality`. The
    # standing corpus must read as the SUPERSET schema (old rows null-fill)
    # with mergeSchema, and a projection to the original columns must still
    # prune the scan to exactly those columns (no penalty for the wider
    # logical schema).
    import pyspark.sql.functions as F

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.parquet(path + "/batch=1")
    spark.createDataFrame(
        [(3, "gamma", 0.9)], "doc_id long, text string, quality double"
    ).write.parquet(path + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "text", "quality", "batch"}
    rows = {r.doc_id: r.quality for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 0.9}

    plan = merged.select("doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "doc_id", "text",
    }, plan


def test_inverted_index_full_postings_bucketed_serving(spark, scratch_dir):
    # the inverted_index_terms docstring claims the FULL posting list at
    # scale is "the same relation written term-bucketed" — make that
    # concrete: write (term, doc_id, tf) bucketed+sorted on term, then show
    # term-keyed serving reads (per-term aggregation) plan with NO Exchange
    from hadoop_word_score_spark.functions.hashing import tokens_expr

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        docs = load_table(spark, SF_SMOKE, "documents")
        postings = (
            docs.select("doc_id", F.explode(F.expr(tokens_expr("text"))).alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        sinks.write_bucketed(postings, "postings_b", "term", 8, sort_col="term")
        served = spark.table("postings_b").groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
        )
        served.count()
        plan = served._jdf.queryExecution().executedPlan().toString()
        # the write paid the term shuffle once; serving aggregations reuse
        # the bucket clustering shuffle-free
        assert "Exchange" not in plan, plan
        # and the numbers match the unbucketed plan
        expect = {
            r.term: (r.df, r.total_tf)
            for r in postings.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf"))
            .collect()
        }
        assert {r.term: (r.df, r.total_tf) for r in served.collect()} == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS postings_b")


def test_compact_small_files_reduces_count_and_preserves_rows(spark, tmp_path):
    from hadoop_word_score_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "shattered")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before = spark.read.parquet(path)
    rows_before = before.count()
    receipt = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert receipt["files_before"] == 64
    assert receipt["files_after"] == 1  # everything fits one target file
    after = spark.read.parquet(path)
    assert after.count() == rows_before
    assert {r.id for r in after.collect()} == set(range(10_000))


def test_compact_small_files_accepts_trailing_slash(spark, tmp_path):
    # advice r9: a trailing-slash path renamed aside fine but failed the
    # rename BACK (os.rename to a nonexistent "dir/" target), crashing
    # mid-swap with the dataset absent at path
    from hadoop_word_score_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "slashy")
    spark.range(1_000).repartition(8).write.parquet(path)
    receipt = compact_small_files(spark, path + "/", target_file_bytes=1 << 30)
    assert receipt["files_after"] == 1
    assert spark.read.parquet(path).count() == 1_000


def test_compact_small_files_partitioned_keeps_directory_pruning(spark, tmp_path):
    from hadoop_word_score_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "bydate")
    df = spark.range(5_000).withColumn("p", (F.col("id") % 3).cast("int"))
    df.repartition(27).write.partitionBy("p").parquet(path)  # 27 files/partition
    receipt = compact_small_files(
        spark, path, target_file_bytes=1 << 30, partition_cols=["p"]
    )
    assert receipt["files_before"] > receipt["files_after"]
    after = spark.read.parquet(path)
    assert after.count() == 5_000
    # hive layout intact: partition dirs survive and pruning still applies
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("p=")
    ) == ["p=0", "p=1", "p=2"]
    plan = (
        after.where(F.col("p") == 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(p" in plan, plan


def test_compact_small_files_splits_hot_partition_to_target(spark, tmp_path):
    # a skewed partition must NOT collapse into one giant file: with a
    # small target, the hot partition's rewrite splits via maxRecordsPerFile
    from hadoop_word_score_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "skewed")
    df = spark.range(20_000).withColumn(
        "p", F.when(F.col("id") % 100 == 0, 1).otherwise(0).cast("int")
    )  # partition 0 holds 99% of rows
    df.repartition(32).write.partitionBy("p").parquet(path)
    import os

    _, bytes_total = 0, sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    receipt = compact_small_files(
        spark, path, target_file_bytes=bytes_total // 4, partition_cols=["p"]
    )
    hot_files = [
        f for f in os.listdir(os.path.join(path, "p=0")) if f.endswith(".parquet")
    ]
    assert len(hot_files) >= 2, hot_files  # split, not one monolith
    assert receipt["files_after"] < receipt["files_before"]
    assert spark.read.parquet(path).count() == 20_000
    # rename-aside swap cleaned up both siblings
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")
