"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``hadoop_word_score_spark`` package; this module
is a thin adapter over ``hadoop_word_score_spark.plans.queries.REGISTRY``.
``queries()`` and ``oracle_sql()`` list the queries in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import hadoop_word_score_spark.plans.queries as _q
from hadoop_word_score_spark.session import apply_engine_confs

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship word-score query (SURVEY §2.12) on sf0.001."""
    apply_engine_confs(spark)
    return _q.REGISTRY["wordscore"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
