"""Streaming-mode tests (SURVEY §2.9 T4-T5): batch/stream parity + the foreachBatch sinks.

DuckDB can't oracle a stream; the check is Spark-vs-Spark — the streaming
plan drained with Trigger.AvailableNow must equal the batch plan over the same
files (they share the window expressions by construction).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _has_agg, run_available_now


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    # Re-encode the nanos parquet as microsecond timestamps into repo-local
    # scratch: the streaming file source chokes on TIMESTAMP(NANOS) too.
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SCRATCH

    out = os.path.join(SCRATCH, "events_us")
    os.makedirs(SCRATCH, exist_ok=True)
    load_table(spark, SF_SMOKE, "events").write.mode("overwrite").parquet(out)
    return out


def test_tumbling_stream_equals_batch(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        tumbling_counts_stream,
    )

    stream = tumbling_counts_stream(read_events_stream(spark, events_stream_dir))
    got = run_available_now(
        stream, os.path.join(scratch_dir, "ckpt_tumble"), "tumble_out"
    )
    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            "event_type", "n_events", "sum_value",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows(spark, scratch_dir):
    # T4: a row older than (observed max ts - watermark) arriving in a later
    # micro-batch is dropped; on-time rows in the same batch still count.
    import datetime as dt

    from hadoop_word_score_spark.sources.registry import TABLES
    from hadoop_word_score_spark.streaming.windows import tumbling_counts_stream

    def ev(eid, hh, mm):
        return (
            eid,
            dt.datetime(2024, 1, 1, hh, mm, tzinfo=dt.timezone.utc),
            1,
            "click",
            1.0,
            "{}",
        )

    src = os.path.join(scratch_dir, "late_src")
    os.makedirs(src, exist_ok=True)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def write_file(rows, fname):
        # single parquet FILES (a Spark-written directory named x.parquet
        # would be invisible to the streaming file source's listing)
        pdf = pd.DataFrame(rows, columns=cols)
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False),
            os.path.join(src, fname),
        )

    write_file([ev(i, 10, i) for i in range(10)], "a.parquet")
    stream_df = spark.readStream.schema(TABLES["events"]).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    agg = tumbling_counts_stream(
        stream_df, window="10 minutes", watermark="30 minutes"
    )

    updates = []

    def drain(name):
        # update mode: late rows beyond the watermark are DROPPED (complete
        # mode would keep aggregating them — no drop semantics there).
        # foreachBatch sink: memory sink can't resume from a checkpoint.
        q = (
            agg.writeStream.foreachBatch(
                lambda bdf, _bid: updates.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", os.path.join(scratch_dir, "ckpt_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return updates

    # first drain: watermark advances to 10:09 - 30min = 09:39
    drain("late_out1")
    # batch B: one LATE row (08:00 < 09:39) and one on-time row (10:05)
    write_file([ev(100, 8, 0), ev(101, 10, 5)], "b.parquet")
    got = drain("late_out2")
    # one row per update; latest count per window wins
    counts = {}
    for r in got:
        key = (r.w_start.hour, r.w_start.minute)
        counts[key] = max(counts.get(key, 0), r.n_events)
    assert (8, 0) not in counts, f"late window should be dropped: {counts}"
    assert counts.get((10, 0)) == 11  # 10 original + on-time straggler


def test_stream_stream_interval_join_equals_batch(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.joins import interval_join_streams
    from hadoop_word_score_spark.streaming.windows import read_events_stream

    def sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s_click, s_buy = sides(read_events_stream(spark, events_stream_dir))
    got = run_available_now(
        interval_join_streams(s_click, s_buy),
        os.path.join(scratch_dir, "ckpt_ssj"),
        "ssj_out",
    )
    b_click, b_buy = sides(spark.read.parquet(events_stream_dir))
    batch = interval_join_streams(b_click, b_buy)  # same code path, batch DFs
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, batch.collect()))
    assert len(got_rows) > 0  # the interval actually matched something


def test_pointer_sinks_reject_object_store_schemes(spark, tmp_path):
    # The pointer swap is driver-local POSIX (open/os.replace); on an
    # object store the replay guard and atomicity silently vanish, so a
    # non-file scheme must fail at sink construction, before any stream
    # runs. file:// normalizes to the plain driver path and still works.
    import pytest as _pytest

    from hadoop_word_score_spark.streaming.ingest import dedup_ingest_sink
    from hadoop_word_score_spark.streaming.monitor import (
        heavy_hitters_monitor_sink,
        heavy_hitters_report_from_store,
    )

    for bad in ("s3://bucket/t", "hdfs://nn:8020/t", "s3a://b/t", "abfss://c/t"):
        for make in (dedup_ingest_sink, heavy_hitters_monitor_sink):
            with _pytest.raises(ValueError, match="local filesystem"):
                make(bad)

    target = str(tmp_path / "filescheme")
    sink = heavy_hitters_monitor_sink("file://" + target)
    sink(spark.createDataFrame([("a",), ("a",), ("b",)], "term string"), 0)
    got = heavy_hitters_report_from_store(spark, target).collect()
    assert [(r.term, r.mg_count) for r in got] == [("a", 2), ("b", 1)]


def test_kmeans_assign_streams_unchanged(spark, scratch_dir):
    # kmeans_assign is a stateless narrow map (literal centroids, no
    # shuffle), so the SAME operator runs under Structured Streaming with
    # no code changes — fit on the batch table, apply on the stream, and
    # the drained assignments equal the batch assignments row for row.
    import os as _os

    from hadoop_word_score_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from hadoop_word_score_spark.sources.registry import TABLES, load_table
    from tests.conftest import SF_SMOKE

    em = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_fit(em, "embedding", "vec_id", k=4, iterations=1)

    src = _os.path.join(scratch_dir, "emb_stream_src")
    em.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(TABLES["embeddings"]).parquet(src)
    got = run_available_now(
        kmeans_assign(stream, "embedding", cents).select(
            "vec_id", "cluster", "sqdist"
        ),
        _os.path.join(scratch_dir, "ckpt_kmeans"),
        "kmeans_stream_out",
    )
    batch = {
        r.vec_id: (r.cluster, r.sqdist)
        for r in kmeans_assign(em, "embedding", cents)
        .select("vec_id", "cluster", "sqdist")
        .collect()
    }
    streamed = {r.vec_id: (r.cluster, r.sqdist) for r in got.collect()}
    assert streamed == batch and len(batch) > 0


def test_sink_empty_first_batch_creates_target(spark, tmp_path):
    # r8 review: an empty FIRST micro-batch commits the replay-guard
    # pointer before any Spark write has created the directory
    from hadoop_word_score_spark.streaming.monitor import (
        heavy_hitters_monitor_sink,
    )
    from hadoop_word_score_spark.streaming.sinks import _read_pointer

    target = str(tmp_path / "eh")
    empty = spark.createDataFrame([], "term string")
    heavy_hitters_monitor_sink(target)(empty, 0)  # must not raise FileNotFoundError
    # and the replay guard advanced (batch 0 is now committed)
    assert _read_pointer(target)[1] == 0


def test_monitor_reports_none_before_first_commit(spark, tmp_path):
    # no summary is served until a non-empty batch commits a snapshot: an
    # empty first batch advances the replay guard on version 0, and the
    # report must not look for a v0 snapshot or meta file
    from hadoop_word_score_spark.streaming.monitor import (
        heavy_hitters_monitor_sink,
        heavy_hitters_report_from_store,
    )
    from hadoop_word_score_spark.streaming.sinks import _read_pointer

    target = str(tmp_path / "hh_none")
    assert heavy_hitters_report_from_store(spark, target) is None
    heavy_hitters_monitor_sink(target)(spark.createDataFrame([], "term string"), 0)
    assert _read_pointer(target) == (0, 0)
    assert heavy_hitters_report_from_store(spark, target) is None


def test_has_agg_ignores_aggregate_in_column_names(spark):
    # r8 review: a column NAMED "AggregateScore" must not flip the memory
    # sink into complete mode (substring match on the plan string did)
    df = spark.createDataFrame([(1.0,)], "AggregateScore double").select(
        F.col("AggregateScore")
    )
    assert _has_agg(df) is False
    assert _has_agg(df.groupBy().count()) is True


# ---------------------------------------------------------------------------
# Dedup-on-ingest: greedy near-dup quarantine at arrival (streaming/ingest.py)
# ---------------------------------------------------------------------------

_ING_SCHEMA = "doc_id long, text string"


def _write_stream_file(spark, stream_dir, rows, name, mtime):
    import shutil
    import glob

    tmp = os.path.join(stream_dir, "_tmp_" + name)
    spark.createDataFrame(rows, _ING_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = os.path.join(stream_dir, name)
    shutil.move(part, dest)
    shutil.rmtree(tmp)
    os.utime(dest, (mtime, mtime))
    return dest


def _tok_block(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_dedup_ingest_greedy_quarantine_multi_batch(spark, tmp_path):
    # Two availableNow drains over a growing file source (same checkpoint →
    # file 2 arrives as batch 1). Quarantine decisions: B matches earlier A
    # (prior doc, same batch), D matches BOTH A and B from the previous
    # batch (matched_id = min = 0), F matches same-batch earlier E. Between
    # the drains we snapshot batch 0's persisted index files — batch 1 must
    # not touch them (the corpus-never-re-signed receipt: prior arrivals
    # participate through the persisted band index only).
    from hadoop_word_score_spark.streaming.ingest import (
        dedup_ingest_sink,
        read_ingested,
    )

    base = _tok_block("tok", 30)
    uniq1 = _tok_block("aaa", 25)
    uniq2 = _tok_block("bbb", 25)
    stream_dir = str(tmp_path / "in")
    os.makedirs(stream_dir)
    target = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    _write_stream_file(
        spark, stream_dir,
        [(0, base), (1, base + " tail1"), (2, uniq1)],
        "b0.parquet", 1_000_000,
    )

    def drain():
        q = (
            spark.readStream.schema(_ING_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .writeStream.foreachBatch(dedup_ingest_sink(target))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    idx0 = os.path.join(target, "index", "batch=0")
    before = {
        f: os.path.getmtime(os.path.join(idx0, f))
        for f in os.listdir(idx0)
        if f.endswith(".parquet")
    }
    assert before, "batch 0 must persist its band index"

    _write_stream_file(
        spark, stream_dir,
        [(3, base + " tail2"), (4, uniq2), (5, uniq2 + " tail3")],
        "b1.parquet", 1_000_010,
    )
    drain()

    got = {
        r.doc_id: r for r in read_ingested(spark, target).collect()
    }
    assert len(got) == 6
    assert not got[0].quarantined and got[0].matched_id is None
    assert got[1].quarantined and got[1].matched_id == 0
    assert not got[2].quarantined
    assert got[3].quarantined and got[3].matched_id == 0  # min(A=0, B=1)
    assert not got[4].quarantined
    assert got[5].quarantined and got[5].matched_id == 4  # same-batch earlier
    after = {
        f: os.path.getmtime(os.path.join(idx0, f))
        for f in os.listdir(idx0)
        if f.endswith(".parquet")
    }
    assert after == before, "batch 1 re-signed/rewrote batch 0's index"


def test_dedup_ingest_replay_noop_and_crash_self_heal(spark, tmp_path):
    # Exactly-once half: (1) redelivering a committed batch_id is a no-op;
    # (2) a crash AFTER the batch dirs are written but BEFORE the pointer
    # swap leaves uncommitted dirs that must not leak into the corpus read
    # on redelivery (else every redelivered doc would self-match and be
    # wrongly quarantined) — redelivery overwrites them and commits.
    from hadoop_word_score_spark.streaming.ingest import (
        dedup_ingest_sink,
        read_ingested,
    )

    target = str(tmp_path / "corpus")
    sink = dedup_ingest_sink(target)
    b0 = spark.createDataFrame(
        [(0, _tok_block("tok", 30)), (1, _tok_block("aaa", 25))], _ING_SCHEMA
    )
    sink(b0, 0)
    snap = read_ingested(spark, target).collect()
    sink(b0, 0)  # replay: must be a no-op
    assert sorted(map(tuple, read_ingested(spark, target).collect())) == sorted(
        map(tuple, snap)
    )

    # Simulate the crash: batch 1's dirs exist on disk, pointer still at 0.
    b1 = spark.createDataFrame(
        [(2, _tok_block("ccc", 25)), (3, _tok_block("ddd", 25))], _ING_SCHEMA
    )
    b1.write.mode("overwrite").parquet(
        os.path.join(target, "docs", "batch=1")
    )
    sink(b1, 1)  # redelivery after the crash
    got = {r.doc_id: r for r in read_ingested(spark, target).collect()}
    assert len(got) == 4
    # the half-written docs/batch=1 did NOT serve as corpus: 2 and 3 are
    # unique, so neither self-matched
    assert not got[2].quarantined and not got[3].quarantined


def test_dedup_ingest_greedy_vs_batch_components(spark, tmp_path):
    # Chain-free corpora: ingest-time quarantine equals the batch pipeline's
    # drop set. Late-bridged clusters: the two DOCUMENTED semantics diverge
    # — the bridge doc merges two dissimilar members retroactively in the
    # global components view only; greedy ingest cannot revisit past keeps.
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.streaming.ingest import (
        dedup_ingest_sink,
        read_ingested,
    )
    from tests.conftest import stage_documents_sf

    base = _tok_block("tok", 30)
    x, y, z = _tok_block("x", 10), _tok_block("y", 12), _tok_block("z", 10)
    cases = {
        # chain-free: doc1 dups doc0 (cross-batch), doc3 dups doc2 (in-batch)
        "chainfree": (
            [(0, base), (1, base + " t1")],
            [(2, _tok_block("aaa", 25)), (3, _tok_block("aaa", 25) + " t2")],
        ),
        # bridge: A=x+y and D=y+z are below threshold (J≈0.37) but the late
        # bridge E=x+y+z matches both (J≈0.69)
        "bridge": ([(0, f"{x} {y}"), (1, f"{y} {z}")], [(2, f"{x} {y} {z}")]),
    }
    for name, (b0_rows, b1_rows) in cases.items():
        target = str(tmp_path / name)
        sink = dedup_ingest_sink(target)
        sink(spark.createDataFrame(b0_rows, _ING_SCHEMA), 0)
        sink(spark.createDataFrame(b1_rows, _ING_SCHEMA), 1)
        greedy_kept = {
            r.doc_id
            for r in read_ingested(spark, target).collect()
            if not r.quarantined
        }
        sf = stage_documents_sf(
            spark, str(tmp_path / (name + "_sf")),
            [t for _, t in b0_rows + b1_rows],
        )
        batch_kept = {
            r.doc_id
            for r in REGISTRY["dedup_pipeline_end_to_end"].fn(spark, sf).collect()
        }
        if name == "chainfree":
            assert greedy_kept == batch_kept == {0, 2}
        else:
            assert greedy_kept == {0, 1}   # D kept: no match at arrival
            assert batch_kept == {0}       # bridge merges the component


def test_vacuum_ingest_sweeps_uncommitted_batches_only(spark, tmp_path):
    import os

    from hadoop_word_score_spark.streaming.ingest import (
        dedup_ingest_sink,
        read_ingested,
        vacuum_ingest,
    )

    target = str(tmp_path / "ingest")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    sink = dedup_ingest_sink(target)
    sink(docs, 0)  # committed batch
    # simulate a crash: a batch dir written but never published
    orphan = spark.createDataFrame([(9, "iota kappa")], "doc_id long, text string")
    orphan.write.mode("overwrite").parquet(
        os.path.join(target, "docs", "batch=7")
    )
    removed = vacuum_ingest(target)
    assert removed == [os.path.join(target, "docs", "batch=7")]
    assert not os.path.exists(os.path.join(target, "docs", "batch=7"))
    # committed data intact and readable
    out = read_ingested(spark, target)
    assert out is not None and out.count() == 2
    # idempotent: a second vacuum finds nothing
    assert vacuum_ingest(target) == []


def test_stream_stream_left_outer_join_eviction_semantics(spark, scratch_dir):
    # The left-outer stream-stream join's two production gotchas, pinned:
    # null-padded rows emit only after the watermark passes the row's join
    # window, and tail rows whose window the watermark never passes are NOT
    # emitted by a finite drain. Constructed two-file stream so the batch
    # sequence (and therefore watermark advancement) is deterministic.
    import datetime as dt

    from pyspark.sql import Row

    from hadoop_word_score_spark.sources.registry import TABLES
    from hadoop_word_score_spark.streaming.joins import interval_join_streams
    from hadoop_word_score_spark.streaming.windows import read_events_stream

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, minutes, uid, ty):
        return Row(event_id=eid, ts=t0 + dt.timedelta(minutes=minutes),
                   user_id=uid, event_type=ty, value=1.0, props="{}")

    # users 1-3: click then purchase inside the 30-min window (matched);
    # users 4-5: click with no purchase (unmatched, should null-pad once
    # the watermark passes their window)
    main = [ev(100 + u, 0, u, "click") for u in range(1, 6)]
    main += [ev(200 + u, 10, u, "purchase") for u in range(1, 4)]
    # tail: two flush files ~6h later, each carrying a click AND a
    # purchase (non-matching users). BOTH types are needed: the join's
    # effective watermark is the MIN over its two inputs' watermark nodes,
    # and each node only sees rows that survive its side's filter — a
    # click-only flush would advance the left watermark while the right
    # one stays at the main file's max ts, and nothing would ever evict
    # (the first version of this test did exactly that). The first flush
    # advances both watermarks to t0+5h; watermarks take effect at the
    # NEXT batch, so the second flush file exists to make that batch
    # happen — during it every main-file window (t0 + 30min < t0 + 5h)
    # evicts and null-pads. The flush rows' OWN windows are never passed,
    # so a finite drain must not emit them.
    flush1 = [ev(999, 360, 999, "click"), ev(899, 360, 899, "purchase")]
    flush2 = [ev(998, 370, 998, "click"), ev(898, 370, 898, "purchase")]

    src = os.path.join(scratch_dir, "souter_src")
    schema = TABLES["events"]
    spark.createDataFrame(main, schema).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)  # file-source batch order follows modification time
    spark.createDataFrame(flush1, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(flush2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    joined = interval_join_streams(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )
    got = run_available_now(
        joined, os.path.join(scratch_dir, "ckpt_souter"), "souter_out"
    ).collect()

    matched = {(r.user_id, r.l_event_id, r.r_event_id) for r in got
               if r.r_event_id is not None}
    unmatched = {r.user_id for r in got if r.r_event_id is None}
    assert matched == {(u, 100 + u, 200 + u) for u in range(1, 4)}
    # gotcha 1: the evicted unmatched rows DID null-pad
    assert {4, 5} <= unmatched
    # gotcha 2: the tail rows' windows were never passed — no emission
    # (and right-side-unmatched purchases never emit under LEFT outer)
    assert not unmatched & {999, 998, 899, 898}
    # and the same code path over batch DataFrames is the full outer truth
    # the stream converges to as the watermark advances
    b = interval_join_streams(
        spark.read.parquet(src).filter(F.col("event_type") == "click"),
        spark.read.parquet(src).filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )
    assert b.filter(F.col("r_event_id").isNull()).count() == 4  # 4, 5, 999, 998


def test_heavy_hitters_monitor_certificate_replay_and_guard(spark, tmp_path):
    # streamed Misra-Gries: after two arrival batches the standing summary
    # must hold the mergeable-summaries certificate vs exact truth; a
    # replayed batch is a no-op; a capacity change refuses.
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_word_score_spark.streaming.monitor import (
        heavy_hitters_monitor_sink,
        heavy_hitters_report_from_store,
    )

    target = str(tmp_path / "hh")
    cap = 4
    sink = heavy_hitters_monitor_sink(target, capacity=cap)
    # skewed stream: 'a' x 30, 'b' x 12, then a tail of 20 singletons
    b0 = spark.createDataFrame(
        [("a",)] * 18 + [("b",)] * 4 + [(f"t{i}",) for i in range(10)],
        "term string",
    )
    b1 = spark.createDataFrame(
        [("a",)] * 12 + [("b",)] * 8 + [(f"u{i}",) for i in range(10)],
        "term string",
    )
    sink(b0, 0)
    sink(b1, 1)
    rep = {r.term: r for r in
           heavy_hitters_report_from_store(spark, target).collect()}
    truth = {"a": 30, "b": 12}
    n_total = 62  # 32 + 30 rows across the two batches
    err = n_total // (cap + 1)  # 12
    assert all(len(rep) <= cap for _ in [0])
    for t, n_true in truth.items():
        if n_true > err:  # certificate: above-threshold terms MUST appear
            assert t in rep
    for t, r in rep.items():
        n_true = truth.get(t, 1)
        assert r.mg_count <= n_true <= r.mg_count + r.err_bound
        assert r.n_total == n_total and r.err_bound == err

    # replay: same batch id again must not change state or n_total
    sink(b1, 1)
    rep2 = {r.term: (r.mg_count, r.n_total) for r in
            heavy_hitters_report_from_store(spark, target).collect()}
    assert rep2 == {t: (r.mg_count, r.n_total) for t, r in rep.items()}

    # empty batch (review r12): the replay guard advances but NO new
    # snapshot/meta version is written — an idle source with periodic
    # triggers must not accumulate identical version directories
    import os as _os

    n_dirs_before = sorted(_os.listdir(target))
    empty = spark.createDataFrame([], "term string")
    sink(empty, 2)
    assert sorted(_os.listdir(target)) == n_dirs_before
    rep3 = {r.term: (r.mg_count, r.n_total) for r in
            heavy_hitters_report_from_store(spark, target).collect()}
    assert rep3 == {t: (r.mg_count, r.n_total) for t, r in rep.items()}
    # ...and the empty batch itself replays as a no-op
    sink(empty, 2)
    assert sorted(_os.listdir(target)) == n_dirs_before

    # capacity-change guard
    other = heavy_hitters_monitor_sink(target, capacity=8)
    with _pytest.raises(ValueError, match="capacity"):
        other(b0, 3)

    # empty table: report is None
    assert heavy_hitters_report_from_store(spark, str(tmp_path / "none")) is None


def _pgm(seed: int, n: int = 400):
    # deterministic raster payload; same seed => identical bytes (hamming 0)
    import numpy as np

    from hadoop_word_score_spark.functions import codecs

    rng = np.random.RandomState(seed)
    return bytearray(
        codecs.encode_pgm(rng.randint(0, 256, (20, 16)).astype("uint8"))
    )


_MEDIA_SCHEMA = "doc_id long, payload binary"


def test_perceptual_ingest_greedy_quarantine_and_index_immutability(
    spark, tmp_path
):
    # The multimodal ingest path: greedy first-arrival quarantine over
    # image aHash near-dups, prior arrivals participating ONLY through the
    # persisted flat (doc_id, hash, algo) index (batch 0's index files
    # must be byte-identical after batch 1 commits), undecodable payloads
    # ingested as kept-but-unindexed.
    import os

    from hadoop_word_score_spark.operators.multimodal import image_ahash64
    from hadoop_word_score_spark.streaming.ingest import (
        perceptual_ingest_sink,
        read_ingested,
    )

    target = str(tmp_path / "media")
    sink = perceptual_ingest_sink(target, hashers={"ahash8x8": image_ahash64})
    b0 = spark.createDataFrame(
        [(0, _pgm(1)), (1, _pgm(1)), (2, _pgm(2))], _MEDIA_SCHEMA
    )
    sink(b0, 0)
    idx0 = os.path.join(target, "index", "batch=0")
    before = {
        f: os.path.getmtime(os.path.join(idx0, f))
        for f in os.listdir(idx0)
        if f.endswith(".parquet")
    }
    assert before, "batch 0 must persist its hash index"

    b1 = spark.createDataFrame(
        [
            (3, _pgm(1)),                  # matches A(0) and B(1) -> min 0
            (4, _pgm(3)),                  # unique
            (5, _pgm(3)),                  # same-batch earlier match -> 4
            (6, bytearray(b"not an image")),  # undecodable: kept, unindexed
        ],
        _MEDIA_SCHEMA,
    )
    sink(b1, 1)
    got = {r.doc_id: r for r in read_ingested(spark, target).collect()}
    assert len(got) == 7
    assert not got[0].quarantined and got[0].matched_id is None
    assert got[1].quarantined and got[1].matched_id == 0
    assert not got[2].quarantined
    assert got[3].quarantined and got[3].matched_id == 0
    assert not got[4].quarantined
    assert got[5].quarantined and got[5].matched_id == 4
    assert not got[6].quarantined
    after = {
        f: os.path.getmtime(os.path.join(idx0, f))
        for f in os.listdir(idx0)
        if f.endswith(".parquet")
    }
    assert after == before, "batch 1 re-hashed/rewrote batch 0's index"
    # the undecodable payload must not appear in the index
    idx = spark.read.parquet(os.path.join(target, "index", "batch=1"))
    assert {r.doc_id for r in idx.collect()} == {3, 4, 5}
    assert {r.algo for r in idx.collect()} == {"ahash8x8"}


def test_perceptual_ingest_replay_noop_and_algo_guard(spark, tmp_path):
    # Exactly-once half + recipe guard: a redelivered batch_id is a no-op;
    # probing an ahash-built index with a different hasher recipe
    # fail-fasts instead of comparing incomparable hashes.
    import pytest

    from hadoop_word_score_spark.operators.multimodal import (
        image_ahash64,
        image_dhash64,
    )
    from hadoop_word_score_spark.streaming.ingest import (
        perceptual_ingest_sink,
        read_ingested,
    )

    target = str(tmp_path / "media")
    sink = perceptual_ingest_sink(target, hashers={"ahash8x8": image_ahash64})
    b0 = spark.createDataFrame([(0, _pgm(1)), (1, _pgm(2))], _MEDIA_SCHEMA)
    sink(b0, 0)
    snap = sorted(
        (r.doc_id, r.quarantined, r.matched_id)
        for r in read_ingested(spark, target).collect()
    )
    sink(b0, 0)  # replay: no-op
    assert sorted(
        (r.doc_id, r.quarantined, r.matched_id)
        for r in read_ingested(spark, target).collect()
    ) == snap

    wrong = perceptual_ingest_sink(target, hashers={"dhash9x8": image_dhash64})
    b1 = spark.createDataFrame([(2, _pgm(3))], _MEDIA_SCHEMA)
    with pytest.raises(ValueError, match="algo"):
        wrong(b1, 1)
    # the refused batch must not have committed
    assert {r.doc_id for r in read_ingested(spark, target).collect()} \
        == {0, 1}


def test_perceptual_ingest_crash_self_heal(spark, tmp_path):
    # Crash window: batch dirs written, pointer NOT swapped. The
    # half-written docs/index must not leak into the corpus read on
    # redelivery (else the redelivered payloads would self-match and be
    # wrongly quarantined); redelivery overwrites and commits.
    import os

    from hadoop_word_score_spark.operators.multimodal import image_ahash64
    from hadoop_word_score_spark.streaming.ingest import (
        perceptual_ingest_sink,
        read_ingested,
    )

    target = str(tmp_path / "media")
    sink = perceptual_ingest_sink(target, hashers={"ahash8x8": image_ahash64})
    sink(spark.createDataFrame([(0, _pgm(1))], _MEDIA_SCHEMA), 0)

    # simulate the crash: batch 1's dirs exist on disk, pointer still at 0
    b1 = spark.createDataFrame([(1, _pgm(7)), (2, _pgm(8))], _MEDIA_SCHEMA)
    b1.write.mode("overwrite").parquet(os.path.join(target, "docs", "batch=1"))
    image_ahash64(b1).write.mode("overwrite").parquet(
        os.path.join(target, "index", "batch=1")
    )
    sink(b1, 1)  # redelivery after the crash
    got = {r.doc_id: r for r in read_ingested(spark, target).collect()}
    assert len(got) == 3
    # unique payloads: neither self-matched against the orphaned dirs
    assert not got[1].quarantined and not got[2].quarantined


def test_perceptual_ingest_multi_algo_union_and_guard(spark, tmp_path):
    # r15 verdict missing #2 (ingest half): several hash recipes coexist
    # in ONE flat (doc_id, hash, algo) index; comparisons are keyed by
    # algo (recipes never meet in a join); quarantine fires on a match
    # under ANY configured algo. Fixture: B = A + a per-row brightness
    # ramp — dHash (within-row gradient sign) is EXACTLY invariant, aHash
    # (global mean threshold) scrambles, so the pair is found only
    # because dhash is configured alongside ahash.
    import numpy as np
    import pytest

    from hadoop_word_score_spark.functions import codecs
    from hadoop_word_score_spark.operators.multimodal import (
        image_ahash64,
        image_dhash64,
        image_phash64_dct,
    )
    from hadoop_word_score_spark.streaming.ingest import (
        perceptual_ingest_sink,
        read_ingested,
    )

    r = np.arange(20)[:, None]
    c = np.arange(16)[None, :]
    img_a = (10 + 6 * c + 0 * r).astype(np.uint8)
    img_b = (10 + 6 * c + 7 * r).astype(np.uint8)
    pa = bytearray(codecs.encode_pgm(img_a))
    pb = bytearray(codecs.encode_pgm(img_b))
    # premise check: dhash-identical, ahash-far
    df_pair = spark.createDataFrame([(0, pa), (1, pb)], _MEDIA_SCHEMA)
    ah = {x.doc_id: x.ahash for x in image_ahash64(df_pair).collect()}
    dh = {x.doc_id: x.dhash for x in image_dhash64(df_pair).collect()}
    mask = (1 << 64) - 1
    assert bin((dh[0] ^ dh[1]) & mask).count("1") == 0
    assert bin((ah[0] ^ ah[1]) & mask).count("1") > 3

    target = str(tmp_path / "media")
    sink = perceptual_ingest_sink(
        target, hashers={"ahash8x8": image_ahash64, "dhash9x8": image_dhash64}
    )
    sink(spark.createDataFrame([(0, pa)], _MEDIA_SCHEMA), 0)
    sink(spark.createDataFrame([(1, pb), (2, _pgm(9))], _MEDIA_SCHEMA), 1)
    got = {x.doc_id: x for x in read_ingested(spark, target).collect()}
    assert got[1].quarantined and got[1].matched_id == 0  # dhash-only match
    assert not got[0].quarantined and not got[2].quarantined
    import os

    idx = spark.read.parquet(
        os.path.join(target, "index", "batch=0"),
        os.path.join(target, "index", "batch=1"),
    )
    assert {(x.doc_id, x.algo) for x in idx.collect()} == {
        (i, a) for i in (0, 1, 2) for a in ("ahash8x8", "dhash9x8")
    }

    # dropping a recipe whose signatures are in the index fail-fasts...
    narrow = perceptual_ingest_sink(target, hashers={"ahash8x8": image_ahash64})
    with pytest.raises(ValueError, match="algo"):
        narrow(spark.createDataFrame([(3, _pgm(10))], _MEDIA_SCHEMA), 2)
    assert {x.doc_id for x in read_ingested(spark, target).collect()} == \
        {0, 1, 2}  # the refused batch must not commit
    # ...but ADOPTING a new recipe is fine: coverage starts at adoption
    wider = perceptual_ingest_sink(
        target,
        hashers={
            "ahash8x8": image_ahash64,
            "dhash9x8": image_dhash64,
            "phash_dct": image_phash64_dct,
        },
    )
    wider(spark.createDataFrame([(3, pa)], _MEDIA_SCHEMA), 2)
    got = {x.doc_id: x for x in read_ingested(spark, target).collect()}
    assert got[3].quarantined and got[3].matched_id == 0


def test_ingest_sinks_per_batch_work_is_pinned(spark, tmp_path):
    # Each sink's per-batch Spark work — the batch pin, the one signing
    # pass per recipe, the mh_meta / algo guards, the corpus reads and the
    # two overlapped writes — counted from the status store as the bench
    # counts it: a two-batch text ingest and a two-batch, two-recipe media
    # ingest run exactly these jobs and SQL executions. Counted with AQE
    # off: adaptive query stages run as jobs whose number depends on the
    # order the stages finish in (39-42 jobs for the same text ingest
    # across runs of one session), while the static plan's jobs do not.
    import bench

    from hadoop_word_score_spark.operators.multimodal import (
        image_ahash64,
        image_dhash64,
    )
    from hadoop_word_score_spark.streaming.ingest import (
        dedup_ingest_sink,
        perceptual_ingest_sink,
    )

    base, uniq = _tok_block("tok", 30), _tok_block("bbb", 25)
    text = [
        spark.createDataFrame(
            [(0, base), (1, base + " tail1"), (2, _tok_block("aaa", 25))],
            _ING_SCHEMA,
        ),
        spark.createDataFrame(
            [(3, base + " tail2"), (4, uniq), (5, uniq + " tail3")],
            _ING_SCHEMA,
        ),
    ]
    media = [
        spark.createDataFrame(
            [(0, _pgm(1)), (1, _pgm(1)), (2, _pgm(2))], _MEDIA_SCHEMA
        ),
        spark.createDataFrame([(3, _pgm(1)), (4, _pgm(3))], _MEDIA_SCHEMA),
    ]
    collector = bench._collector(spark)

    def work(sink, batches) -> tuple[float, float]:
        def body() -> None:
            for batch_id, batch in enumerate(batches):
                sink(batch, batch_id)

        _, rec = bench._trial(collector, body, read=True)
        return rec["driver.jobs"], rec["driver.sql_executions"]

    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got_text = work(dedup_ingest_sink(str(tmp_path / "text")), text)
        got_media = work(
            perceptual_ingest_sink(
                str(tmp_path / "media"),
                hashers={"ahash8x8": image_ahash64, "dhash9x8": image_dhash64},
            ),
            media,
        )
    finally:
        spark.conf.set(key, saved)
    assert got_text == (23, 12)
    assert got_media == (16, 11)


# overlap_jobs (session.py) — the §2.6 back-fill helper behind the ingest
# sinks' and persist_ivfpq_index's concurrent writes (ADVICE r16 hardening)


def test_overlap_jobs_returns_both_results(spark):
    from hadoop_word_score_spark.session import overlap_jobs

    fg, bg = overlap_jobs(
        spark,
        lambda: spark.range(5).count(),
        lambda: spark.range(3).count(),
    )
    assert (fg, bg) == (3, 5)


def test_overlap_jobs_surfaces_background_failure_behind_foreground(spark):
    # ADVICE r16: a foreground failure must not swallow the background
    # exception — it rides along as __context__ in the raised error
    import pytest

    from hadoop_word_score_spark.session import overlap_jobs

    def bg():
        raise RuntimeError("background root cause")

    def fg():
        raise ValueError("foreground symptom")

    with pytest.raises(ValueError, match="foreground symptom") as exc:
        overlap_jobs(spark, bg, fg)
    assert isinstance(exc.value.__context__, RuntimeError)
    assert "background root cause" in str(exc.value.__context__)


def test_overlap_jobs_keeps_background_failure_behind_existing_context(spark):
    # A foreground error raised inside an except block already carries a
    # __context__; the background failure goes at the END of that chain
    # instead of being dropped
    import pytest

    from hadoop_word_score_spark.session import overlap_jobs

    def bg():
        raise RuntimeError("background root cause")

    def fg():
        try:
            raise KeyError("lookup")
        except KeyError:
            raise ValueError("foreground symptom")

    with pytest.raises(ValueError, match="foreground symptom") as exc:
        overlap_jobs(spark, bg, fg)
    chain, err = [], exc.value
    while err is not None:
        chain.append(err)
        err = err.__context__
    assert isinstance(chain[1], KeyError)
    assert any("background root cause" in str(x) for x in chain)


def test_overlap_jobs_background_failure_alone_propagates(spark):
    import pytest

    from hadoop_word_score_spark.session import overlap_jobs

    with pytest.raises(RuntimeError, match="bg boom"):
        overlap_jobs(
            spark,
            lambda: (_ for _ in ()).throw(RuntimeError("bg boom")),
            lambda: 1,
        )


def test_overlap_jobs_cancels_background_when_foreground_fails(spark):
    # A foreground failure cancels the background chain's tagged job
    # instead of waiting for it: the error surfaces in seconds, not after
    # the ~30 s the background job would otherwise run
    from hadoop_word_score_spark.session import overlap_jobs

    @F.udf("long")
    def slow(x):
        import time as _t

        _t.sleep(30)
        return x

    def fg():
        raise ValueError("foreground symptom")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="foreground symptom"):
        overlap_jobs(spark, lambda: spark.range(1).select(slow("id")).collect(), fg)
    assert time.monotonic() - t0 < 15
