from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrame

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
SF_BENCH = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")

# Scratch space inside the repo (the container forbids writes elsewhere).
# Pytest owns ONLY the .scratch/pytest subtree: wiping all of .scratch
# deleted the cross-run content-keyed IVF/IVFPQ index caches and the
# bpe_tokenizer artifact out from under a concurrent bench/driver session
# (ADVICE r13) — the engine's sibling dirs (.scratch/ivf, .scratch/ivfpq,
# .scratch/bpe_tokenizer, .scratch/bench_*) are never touched here.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "pytest"
)


@pytest.fixture(scope="session")
def spark():
    from hadoop_word_score_spark.session import get_spark
    from perfbench.collect import observability_confs

    # the bench sessions' status-store retention: a collector read in any
    # test cannot lose executions to eviction, whatever ran before it
    s = get_spark("pytest", master="local[8]", extra_confs=observability_confs(1))
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def scratch_dir():
    # setup-side clean too: a KILLED previous run (timeout, ctrl-c) leaves
    # half-written streaming checkpoints behind, and a new query refuses to
    # "recover" from them ("Delete .../offsets to start over" — r13: ten
    # phantom streaming failures from one SIGTERM'd session)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def stage_documents_sf(spark, base_dir, rows):
    """Stage a documents.parquet under base_dir/sf so registry fns (which
    take an sf_dir) can run over a constructed or empty corpus. ``rows`` is
    a list of text strings (doc_id/lang/source/n_chars derived). Schema
    comes from the registry so staged tables can't drift from the real one.
    """
    from pyspark.sql import Row

    from hadoop_word_score_spark.sources.registry import TABLES

    sf = os.path.join(base_dir, "sf")
    os.makedirs(sf, exist_ok=True)
    data = [
        Row(doc_id=i, text=t, lang="en", source="test", n_chars=len(t))
        for i, t in enumerate(rows)
    ]
    spark.createDataFrame(data, TABLES["documents"]).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "documents.parquet"))
    return sf


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, table_name: str) -> DataFrame:
    """Drain everything currently available through a memory sink; return result.

    Trigger.AvailableNow processes the backlog in micro-batches then stops —
    the batch-parity test harness (and the production backfill pattern).
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete" if stream_df.isStreaming and _has_agg(stream_df) else "append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)


def _has_agg(df: DataFrame) -> bool:
    # match the Aggregate NODE at the start of a plan line, not the
    # substring anywhere — a column or relation named "AggregateScore"
    # inside a Project's output list must not flip the output mode
    import re

    # markers before a node name: tree branches (+- :-), codegen stars,
    # the streaming tilde (~Aggregate), and unresolved quotes ('Aggregate)
    plan = df._jdf.queryExecution().analyzed().toString()
    return re.search(r"(?m)^[\s+:*~'-]*Aggregate ", plan) is not None
