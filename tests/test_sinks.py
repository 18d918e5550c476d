"""Sinks: the reference's single-file ``score, word`` TSV, its intermediate
SequenceFile (SURVEY §2.1 S3/S4), and schema evolution on a parquet corpus."""

from __future__ import annotations

import glob
import os

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
