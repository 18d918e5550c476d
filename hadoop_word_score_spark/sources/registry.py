"""Schema registry + loaders for the engine's tables.

The reference is schema-less: it parses whole JSON objects per record and
plucks two fields with unchecked casts (ComputeWordScore.java:102-116). The
new engine is schema-first — every source has a declared schema, which is what
lets the Parquet reader prune columns and push filters down to row groups (the
single biggest win at 100 TB; the reference re-parsed every byte of every
record on every run).

Tables are the driver-generated star schema + events/documents/embeddings
(TESTDATA.md, FIXTURES.md §2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_I = T.IntegerType()
_L = T.LongType()
_D = T.DoubleType()
_S = T.StringType()
_TS = T.TimestampType()


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


# Declared schemas (FIXTURES.md §2). EVERY read is schema-first against these
# (parquet included): the declared schema is the engine's contract, so what a
# query sees never silently follows testdata regeneration drift — the driver
# re-encoded timestamp columns once already (ns → µs/NTZ), which would
# otherwise flip served types (TimestampType vs timestamp_ntz) under
# inference. Declared == served is asserted for all tables in
# tests/test_plans.py::test_all_tables_serve_declared_schema.
TABLES: dict[str, T.StructType] = {
    "region": _schema(("r_regionkey", _I), ("r_name", _S)),
    "nation": _schema(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _schema(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "supplier": _schema(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D),
    ),
    "part": _schema(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _schema(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S),
    ),
    "lineitem": _schema(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _TS),
    ),
    "events": _schema(
        ("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "documents": _schema(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L),
    ),
    "embeddings": _schema(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType())), ("label", _I),
    ),
}

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    # Schema-first read: declared types win over footer inference (e.g.
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) would otherwise infer as
    # timestamp_ntz for o_orderdate/l_shipdate under Spark 4 defaults while
    # the engine declares session-tz TimestampType). Pushdown and pruning
    # are unaffected — filters on these columns still reach the scan.
    return spark.read.schema(TABLES[name]).parquet(path)


def _events_ts_unit(path: str) -> str | None:
    """Sniff the physical parquet unit of ``ts`` (ns/us/ms) via the footer.

    The driver has shipped events.ts as both TIMESTAMP(NANOS) (early rounds)
    and TIMESTAMP(MICROS, isAdjustedToUTC=false) (current), and each needs a
    different read path, so decide from the file itself rather than from an
    assumption about the testdata generation.
    """
    try:
        import glob

        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            parts = sorted(
                glob.glob(os.path.join(path, "*.parquet"))
                or glob.glob(os.path.join(path, "part-*"))
            )
            if not parts:
                return None
            probe = parts[0]
        return getattr(pq.ParquetFile(probe).schema_arrow.field("ts").type, "unit", None)
    except Exception:
        return None


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events with ``ts`` normalized to the declared ``TimestampType``.

    Two physical encodings exist in the wild:

    - TIMESTAMP(MICROS, isAdjustedToUTC=false) — current driver testdata.
      Spark would infer ``timestamp_ntz``; instead read schema-first with the
      declared ``TimestampType`` so the session-tz (UTC) semantics match the
      registry AND filter pushdown / row-group pruning on ``ts`` still reach
      the scan (a post-read cast would sit between the filter and the scan).
    - TIMESTAMP(NANOS) — legacy files, which Spark's vectorized reader
      rejects. Read the physical int64 nanos under a read-scoped legacy conf
      and narrow with *integer* division (float division would lose precision
      past 2^53 ns) — matching DuckDB's own ns→µs truncation, so oracles
      compare equal. The conf is only consulted at analysis time, so scope it
      to this read rather than leaking a session-wide decoding change.
    """
    from pyspark.sql import functions as F

    unit = _events_ts_unit(path)
    if unit is None:
        # Sniff unavailable (no pyarrow / unreadable footer): let Spark's
        # own schema inference decide — it reads footers at ANALYSIS time,
        # so a legacy nanos file fails fast here (inference rejects
        # TIMESTAMP(NANOS) without the legacy conf) and routes to the
        # legacy branch, preserving the pre-sniff capability.
        try:
            df = spark.read.parquet(path)
            df.schema  # force analysis — raises on nanos footers
            unit = "us"
        except Exception:
            unit = "ns"

    if unit == "ns":
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(path)
            df.schema  # force analysis while the conf is in effect
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return df

    df = spark.read.schema(TABLES["events"]).parquet(path)
    # Belt-and-braces: if a future encoding still lands as non-declared
    # (e.g. schema-first read ignored for some source), cast to the registry
    # type so every downstream consumer sees one schema.
    declared = TABLES["events"]["ts"].dataType
    if df.schema["ts"].dataType != declared:
        df = df.withColumn("ts", F.col("ts").cast(declared))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
