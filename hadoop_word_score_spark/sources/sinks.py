"""Reference interop: the intermediate SequenceFile (SURVEY §2.1 S3/S4).

The reference writes one ``SequenceFile<Text, IntWritable>`` between its two
jobs (``ComputeWordScore.java:170-176``) and reads it back in the second
(``:190-191``). Its only sink, one tab-separated ``score, word`` text file
(``:192-193, 208-216``), is ``operators/wordscore.py::write_word_scores``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_sequence_file(
    df: DataFrame, path: str, key_col: str, value_col: str
) -> None:
    """S3 interop: write an actual Hadoop ``SequenceFile<Text, IntWritable>``-
    compatible KV file — byte-level interchange with the reference's
    intermediate dataset (ComputeWordScore.java:170-176 writes one between
    its two jobs).

    This is the only RDD-path sink in the engine, ON PURPOSE: SequenceFile is
    a KV container with no columnar layout, so there is nothing for Catalyst
    to push down into — it exists solely so reference-era files interoperate.
    New pipelines should checkpoint as parquet (the S3/S4 substitution the
    rest of the engine uses). Parallelism is preserved: one SequenceFile
    partition per task, exactly like the reference's per-reducer outputs.

    The Writable classes are chosen by Pyrolite's int boxing, so the value
    is range-checked to int32 explicitly: a value outside int32 would box to
    Long → LongWritable, silently changing (or, mixed within one file,
    breaking) the SequenceFile<Text, IntWritable> byte contract the
    reference's job 2 expects. Out-of-range values raise rather than clamp —
    a score that overflows IntWritable is a caller bug, not data to mangle.
    """

    def _kv(row):
        k, v = row[0], int(row[1])
        if not (-(1 << 31) <= v < (1 << 31)):
            raise ValueError(
                f"write_sequence_file: value {v} for key {k!r} exceeds "
                "IntWritable's int32 range; the SequenceFile<Text, "
                "IntWritable> contract cannot represent it"
            )
        return (str(k), v)

    df.select(key_col, value_col).rdd.map(_kv).saveAsSequenceFile(path)


def read_sequence_file(
    spark: SparkSession, path: str, key_name: str, value_name: str
) -> DataFrame:
    """S4 interop: read a Hadoop SequenceFile written by the reference (or by
    ``write_sequence_file``) back into a DataFrame.

    Writable→Python conversion is automatic (Text→str, IntWritable/
    LongWritable→int); the two-column KV shape is fixed by construction
    (SequenceFileInputFormat contract, ComputeWordScore.java:190-191), so
    the schema is passed explicitly — string key, long value (long also
    absorbs IntWritable) — rather than inferred, which would fail on an
    empty file's empty RDD.
    """
    rdd = spark.sparkContext.sequenceFile(path)
    schema = T.StructType([
        T.StructField(key_name, T.StringType()),
        T.StructField(value_name, T.LongType()),
    ])
    return spark.createDataFrame(rdd, schema=schema)
