"""Sinks + generalized sources (SURVEY §2.1 S5/S7).

The reference's only sink is a single tab-delimited text file produced by
forcing one reducer (``ComputeWordScore.java:192-193, 208-216``). Here that
shape is one *option* — the default at scale is partitioned parquet; the
single-file TSV (``operators/wordscore.py::write_word_scores``) exists for
byte-parity with the reference's output contract.

Bucketed writes are the co-located-join story: two fact tables bucketed by
the same key join with ZERO exchanges — at 100 TB that's the difference
between a terabyte-scale shuffle and none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_csv(df: DataFrame, path: str, header: bool = True, sep: str = ",") -> None:
    df.write.mode("overwrite").option("header", header).option("sep", sep).csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True, sep: str = ","
) -> DataFrame:
    """Schema-first CSV scan — no inference pass (an extra full read at scale)."""
    return (
        spark.read.schema(schema).option("header", header).option("sep", sep).csv(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink — the reference's input format (CWS:99-112), writable."""
    df.write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType, failfast: bool = False
) -> DataFrame:
    """S2: schema-first JSONL scan.

    PERMISSIVE + ``_corrupt_record`` quarantine by default (the 100-TB-sane
    choice); ``failfast=True`` reproduces the reference's die-on-bad-record
    semantics (CWS:102-108).
    """
    mode = "FAILFAST" if failfast else "PERMISSIVE"
    return spark.read.schema(schema).option("mode", mode).json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned parquet: the default large-output sink.

    Readers filtering on ``partition_cols`` prune directories before any I/O
    (PartitionFilters in the scan node).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_range_clustered(
    df: DataFrame, path: str, cluster_col: str, n_files: int = 8
) -> None:
    """Range-clustered parquet: rows range-partitioned then sorted on
    ``cluster_col`` — each output file covers a disjoint value range.

    The poor man's Z-order for one dimension: parquet row-group min/max
    stats become maximally selective, so range predicates on
    ``cluster_col`` skip whole files/row-groups at scan time (verified by
    the disjoint-ranges test). At 100 TB this turns point/range lookups on
    the cluster key into near-index reads.
    """
    (
        df.repartitionByRange(n_files, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int, sort_col: str | None = None
) -> None:
    """Bucketed managed table: pre-shuffled on ``bucket_col`` at write time.

    Equi-joins/aggregations between tables bucketed identically on the join
    key plan with no Exchange (asserted in tests/test_sinks.py) — the write
    pays the shuffle once; every subsequent join reads it back for free.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (S7): Spark-native columnar alternative to parquet — same
    predicate-pushdown/column-pruning story, for HDFS estates standardized
    on ORC. Nested arrays/binary (embeddings, multimodal payloads) round-trip.
    """
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


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


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Small-files compaction: rewrite a parquet dataset so output files
    approach ``target_file_bytes``. Returns a receipt dict
    (files_before, files_after, bytes_total).

    The operational fix for the lakehouse failure mode streaming and
    per-batch writers create: thousands of KB-sized files whose open/footer
    overhead dominates scan time and whose per-file metadata bloats
    planning. Mechanics: size the dataset from the files Spark already
    lists, pick ``ceil(bytes / target)`` output files, and rewrite with a
    repartition. With ``partition_cols``, the repartition keys on the
    partition columns (each directory's rows coalesce without mixing) and
    the target size is enforced through the writer's ``maxRecordsPerFile``
    (records-per-target estimated from the measured bytes/row) — keying
    alone would collapse each Hive partition into ONE file regardless of
    its size, recreating the giant-file problem in reverse on a skewed
    partition (review r9).

    Swap is rename-aside, recoverable at every crash point: the rewrite
    lands in a temp dir, the old dir moves to ``<path>._compact_old``,
    the temp renames into place, and only then is the old copy removed —
    the dataset always exists at ``path`` or a well-known sibling (the
    plain-parquet approximation of Delta OPTIMIZE / Iceberg
    rewrite_data_files' transactional swap; review r9 — the first cut
    rmtree'd the live path before renaming, a data-loss crash window).

    At 100 TB: compaction is per-partition-directory and embarrassingly
    parallel — no global shuffle is ever needed beyond the rewrite's own
    repartition.
    """
    import math
    import os
    import shutil

    # normalize once: a trailing-slash path would rename cleanly ASIDE
    # (os.rename(path, old) strips the slash) but fail the rename BACK
    # (os.rename(tmp, "dir/") needs "dir/" to exist), crashing mid-swap
    # with the dataset absent at path (advice r9)
    path = path.rstrip("/") or path
    df = spark.read.parquet(path)

    def _files_and_bytes(p: str) -> tuple[int, int]:
        n = b = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, f))
        return n, b

    files_before, bytes_total = _files_and_bytes(path)
    n_out = max(1, math.ceil(bytes_total / target_file_bytes))
    tmp = path + "._compact_tmp"
    old = path + "._compact_old"
    if partition_cols:
        # partition-local compaction; maxRecordsPerFile splits a hot
        # partition back up toward the target (bytes/row measured over
        # the whole dataset — close enough for file sizing)
        n_rows = df.count()
        rows_per_file = max(
            1, int(n_rows * target_file_bytes / max(bytes_total, 1))
        )
        (
            df.repartition(n_out, *partition_cols)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*partition_cols)
            .parquet(tmp)
        )
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after, _ = _files_and_bytes(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_total": bytes_total,
    }
