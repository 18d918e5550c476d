"""Streaming-mode tests (SURVEY §2.9 T4-T5): batch/stream parity + stateful dedup.

DuckDB can't oracle a stream; the check is Spark-vs-Spark — the streaming
plan drained with Trigger.AvailableNow must equal the batch plan over the same
files (they share the window expressions by construction).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


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
        run_available_now,
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


def test_session_stream_runs(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
        session_stream,
    )

    got = run_available_now(
        session_stream(read_events_stream(spark, events_stream_dir)),
        os.path.join(scratch_dir, "ckpt_sess"),
        "sess_out",
    )
    batch_sessions = (
        spark.read.parquet(events_stream_dir)
        .groupBy("user_id", F.session_window("ts", "5 minutes"))
        .count()
        .count()
    )
    assert got.count() == batch_sessions


def test_dedup_stream_bounded_state(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.windows import (
        dedup_stream,
        read_events_stream,
        run_available_now,
    )

    got = run_available_now(
        dedup_stream(read_events_stream(spark, events_stream_dir)),
        os.path.join(scratch_dir, "ckpt_dedup"),
        "dedup_out",
    )
    # within-watermark dedup keeps ≥ the global-distinct count (state eviction
    # can re-admit keys), ≤ the raw count
    raw = spark.read.parquet(events_stream_dir)
    n_raw = raw.count()
    n_global = raw.select("user_id", "event_type").distinct().count()
    n = got.count()
    assert n_global <= n <= n_raw


def test_stateful_running_totals(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.stateful import running_user_totals
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
    )

    got = run_available_now(
        running_user_totals(read_events_stream(spark, events_stream_dir)),
        os.path.join(scratch_dir, "ckpt_state"),
        "state_out",
    )
    # last emission per user (max n_events) must equal the batch aggregate
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    batch = {
        r.user_id: r.n
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.user_id: r.n_events for r in final} == batch


def test_sliding_stream_equals_batch(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
        sliding_counts_stream,
    )

    got = run_available_now(
        sliding_counts_stream(read_events_stream(spark, events_stream_dir)),
        os.path.join(scratch_dir, "ckpt_slide"),
        "slide_out",
    )
    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("w_start"), "event_type", "n_events")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows(spark, scratch_dir):
    # T4: a row older than (observed max ts - watermark) arriving in a later
    # micro-batch is dropped; on-time rows in the same batch still count.
    import datetime as dt

    from hadoop_word_score_spark.sources.registry import TABLES
    from hadoop_word_score_spark.streaming.windows import (
        run_available_now,
        tumbling_counts_stream,
    )

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


def test_stream_static_enrichment(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.sources.registry import load_table
    from hadoop_word_score_spark.streaming.joins import enrich_stream_with_dim
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
    )

    dim = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    stream = enrich_stream_with_dim(
        read_events_stream(spark, events_stream_dir), dim
    ).select("event_id", "user_id", "c_mktsegment")
    got = run_available_now(
        stream, os.path.join(scratch_dir, "ckpt_enrich"), "enrich_out"
    )
    batch = spark.read.parquet(events_stream_dir).join(
        dim, F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "user_id", "c_mktsegment")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stream_interval_join_equals_batch(spark, events_stream_dir, scratch_dir):
    from hadoop_word_score_spark.streaming.joins import interval_join_streams
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
    )

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


def test_foreach_batch_upsert_sink_exactly_once(spark, events_stream_dir, tmp_path):
    # T5 sink half: foreachBatch MERGE into a keyed table. The drain must
    # equal the batch latest-per-user aggregate, a REPLAYED batch must be a
    # no-op (the at-least-once -> exactly-once guard), and a fresh batch
    # must still merge afterwards.
    from hadoop_word_score_spark.streaming.sinks import (
        read_table,
        upsert_sink,
    )
    from hadoop_word_score_spark.streaming.windows import read_events_stream

    target = str(tmp_path / "user_table")
    per_user = (
        read_events_stream(spark, events_stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
    )
    q = (
        per_user.writeStream.foreachBatch(upsert_sink(target, "user_id"))
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = read_table(spark, target)
    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))

    # replay guard: re-delivering an already-committed batch_id changes nothing
    sink = upsert_sink(target, "user_id")
    before = sorted(map(tuple, read_table(spark, target).collect()))
    replayed = batch.limit(5).withColumn("total", F.lit(0.0))
    sink(replayed, 0)  # batch 0 was committed by the drain above
    assert sorted(map(tuple, read_table(spark, target).collect())) == before

    # a NEW batch id still merges: one updated user, one brand-new user
    some_user = before[0][0]
    fresh = spark.createDataFrame(
        [(some_user, 999, 1.5), (10**9, 1, 2.0)],
        schema=got.schema,
    )
    sink(fresh, 1)
    after = {r[0]: tuple(r) for r in read_table(spark, target).collect()}
    assert after[some_user] == (some_user, 999, 1.5)
    assert after[10**9] == (10**9, 1, 2.0)
    assert len(after) == len(before) + 1


def test_foreach_batch_upsert_sink_crash_atomicity(spark, tmp_path, monkeypatch):
    # Crash BETWEEN snapshot write and pointer swap: the table must still
    # serve the previous version, and retrying the same batch (what the
    # streaming engine does after recovery) must commit it cleanly —
    # at-least-once delivery + this sink = exactly-once table state.
    import os as _os

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "t")
    sink = S.upsert_sink(target, "k")
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink(df0, 0)
    before = sorted(map(tuple, S.read_table(spark, target).collect()))

    df1 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    real_replace = _os.replace

    def boom(src, dst):
        raise OSError("simulated crash before pointer swap")

    monkeypatch.setattr(S.os, "replace", boom)
    try:
        sink(df1, 1)
        raise AssertionError("expected simulated crash")
    except OSError:
        pass
    # pointer untouched -> still version 1 content
    assert sorted(map(tuple, S.read_table(spark, target).collect())) == before

    monkeypatch.setattr(S.os, "replace", real_replace)
    sink(df1, 1)  # recovery replay of the SAME batch id now commits
    after = {r.k: r.v for r in S.read_table(spark, target).collect()}
    assert after == {1: "a", 2: "B", 3: "c"}


def test_upsert_sink_rejects_object_store_schemes(spark, tmp_path):
    # The pointer swap is driver-local POSIX (open/os.replace); on an
    # object store the replay guard and atomicity silently vanish, so a
    # non-file scheme must fail at sink construction, before any stream
    # runs. file:// normalizes to the plain driver path and still works.
    import pytest as _pytest

    from hadoop_word_score_spark.streaming.sinks import read_table, upsert_sink

    for bad in ("s3://bucket/t", "hdfs://nn:8020/t", "s3a://b/t", "abfss://c/t"):
        with _pytest.raises(ValueError, match="local filesystem"):
            upsert_sink(bad, "k")

    target = str(tmp_path / "filescheme")
    sink = upsert_sink("file://" + target, "k")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    sink(df, 0)
    assert [tuple(r) for r in read_table(spark, target).collect()] == [(1, "a")]


def test_bucketed_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    # The partition-level-rewrite story: batch 2 touches ONE key, so only
    # that key's bucket gains a new snapshot version — every other bucket's
    # manifest entry still points at its batch-1 directory (nothing
    # proportional to table size was written). Result must equal the
    # whole-table sink's.
    import json as _json

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "bucketed")
    sink = S.upsert_sink(target, "k", n_buckets=8)
    df1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k int, v string"
    )
    sink(df1, 0)
    man1 = _json.load(open(f"{target}/_manifest.v1"))
    assert man1["n_buckets"] == 8
    n_buckets_used = len(man1["buckets"])
    assert n_buckets_used > 1  # keys actually spread

    sink(spark.createDataFrame([(7, "UPDATED")], "k int, v string"), 1)
    man2 = _json.load(open(f"{target}/_manifest.v2"))
    changed = {b for b in man2["buckets"] if man2["buckets"][b] != man1["buckets"].get(b)}
    assert len(changed) == 1  # exactly the bucket key 7 hashes into
    rows = {r.k: r.v for r in S.read_table(spark, target).collect()}
    assert rows[7] == "UPDATED" and rows[6] == "v6" and len(rows) == 50

    # whole-table sink over the same batches agrees
    target2 = str(tmp_path / "whole")
    sink2 = S.upsert_sink(target2, "k")
    sink2(df1, 0)
    sink2(spark.createDataFrame([(7, "UPDATED")], "k int, v string"), 1)
    rows2 = {r.k: r.v for r in S.read_table(spark, target2).collect()}
    assert rows == rows2


def test_bucketed_upsert_sink_replay_and_crash_atomicity(spark, tmp_path, monkeypatch):
    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "bucketed_crash")
    sink = S.upsert_sink(target, "k", n_buckets=4)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    sink(df1, 0)
    before = sorted(map(tuple, S.read_table(spark, target).collect()))

    # replayed batch id: no-op, version unchanged
    sink(df1, 0)
    assert S._read_pointer(target) == (1, 0)

    # crash on the POINTER swap (the last step): all bucket snapshots and
    # the manifest for v2 exist, but reads must still serve v1
    real_replace = S.os.replace

    def crashing_replace(src, dst):
        if dst.endswith("_latest"):
            raise OSError("simulated crash at commit")
        return real_replace(src, dst)

    monkeypatch.setattr(S.os, "replace", crashing_replace)
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    try:
        sink(df2, 1)
        raise AssertionError("expected simulated crash")
    except OSError:
        pass
    assert sorted(map(tuple, S.read_table(spark, target).collect())) == before

    monkeypatch.setattr(S.os, "replace", real_replace)
    sink(df2, 1)  # recovery replay commits over the orphaned attempt
    got = {r.k: r.v for r in S.read_table(spark, target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_bucketed_upsert_sink_vacuum_and_bucket_count_guard(spark, tmp_path):
    import os as _os

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "bucketed_vac")
    sink = S.upsert_sink(target, "k", n_buckets=4)
    for i in range(3):
        sink(
            spark.createDataFrame([(j, f"r{i}") for j in range(8)], "k int, v string"),
            i,
        )
    live_before = {r.k: r.v for r in S.read_table(spark, target).collect()}
    removed = S.vacuum(target)
    assert removed  # superseded bucket versions + stale manifests went away
    assert {r.k: r.v for r in S.read_table(spark, target).collect()} == live_before
    # all remaining bucket dirs are exactly the manifest's
    man = S._read_manifest(target, S._read_pointer(target)[0])
    for b, v in man["buckets"].items():
        vs = [d for d in _os.listdir(_os.path.join(target, f"b={b}"))]
        assert vs == [f"v={v}"]

    # mismatched bucket count must refuse loudly, not mis-hash silently
    bad = S.upsert_sink(target, "k", n_buckets=8)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        bad(spark.createDataFrame([(1, "x")], "k int, v string"), 99)


def test_read_table_time_travel_and_vacuum_boundary(spark, tmp_path):
    import pytest as _pytest

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "travel")
    sink = S.upsert_sink(target, "k", n_buckets=4)
    sink(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), 0)
    sink(spark.createDataFrame([(2, "B2")], "k int, v string"), 1)
    sink(spark.createDataFrame([(3, "c")], "k int, v string"), 2)

    assert {r.k: r.v for r in S.read_table(spark, target).collect()} == {
        1: "a", 2: "B2", 3: "c",
    }
    # time travel: version 1 is the post-batch-0 state
    assert {r.k: r.v for r in S.read_table(spark, target, version=1).collect()} == {
        1: "a", 2: "b",
    }
    with _pytest.raises(ValueError, match="out of range"):
        S.read_table(spark, target, version=9)

    S.vacuum(target)
    with _pytest.raises(ValueError, match="vacuumed"):
        S.read_table(spark, target, version=1)
    # current version still serves
    assert len(S.read_table(spark, target).collect()) == 3


def test_aggregating_sink_additive_state_and_streamed_cms(spark, events_stream_dir, tmp_path):
    # Additive exactly-once state: (1) per-event-type counters maintained
    # across multiple micro-batches equal the batch aggregate; (2) a
    # count-min sketch maintained by summing per-batch cells through the
    # sink equals the sketch built in one batch pass — integer-exact, the
    # mergeability property doing real work; (3) replaying a committed
    # batch id is a no-op.
    from hadoop_word_score_spark.operators.frequent import cms_cells
    from hadoop_word_score_spark.sources.registry import TABLES
    from hadoop_word_score_spark.streaming.sinks import aggregating_sink, read_table

    stream = (
        spark.readStream.schema(TABLES["events"])
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(events_stream_dir)
        .select("event_type", "value", F.lit(1).alias("n"))
    )
    counters = str(tmp_path / "counters")
    sketch = str(tmp_path / "sketch")
    count_sink = aggregating_sink(counters, ["event_type"], ["value", "n"])
    cell_sink = aggregating_sink(sketch, ["i", "b"], ["c"])

    def fb(batch_df, batch_id):
        count_sink(batch_df, batch_id)
        cell_sink(
            cms_cells(batch_df.select(F.col("event_type").alias("term"))), batch_id
        )

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    events = spark.read.parquet(events_stream_dir)
    want = {
        r.event_type: (r.s, r.n)
        for r in events.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_rows = read_table(spark, counters).collect()
    got = {r.event_type: (r.value, r.n) for r in got_rows}
    assert set(got) == set(want)
    for t in want:
        assert got[t][1] == want[t][1]  # counts integer-exact
        assert abs(got[t][0] - want[t][0]) < 1e-6  # fp sums within noise

    batch_cells = {
        (r.i, r.b): r.c
        for r in cms_cells(events.select(F.col("event_type").alias("term"))).collect()
    }
    streamed_cells = {(r.i, r.b): r.c for r in read_table(spark, sketch).collect()}
    assert streamed_cells == batch_cells  # mergeable: bit-for-bit equal

    # replay guard: the last committed batch id is a no-op
    version_before = read_table(spark, counters).count()
    last_batch = int(open(f"{counters}/_latest").read().split()[1])
    count_sink(
        spark.createDataFrame([("poison", 1e9, 1)], "event_type string, value double, n int"),
        last_batch,
    )
    after = {r.event_type: (r.value, r.n) for r in read_table(spark, counters).collect()}
    assert after == got and read_table(spark, counters).count() == version_before


def test_bucketed_sink_refuses_whole_table_layout(spark, tmp_path):
    # A whole-table-layout target (version > 0, no _manifest.v*) must not be
    # adopted by a bucketed sink: treating it as empty would commit a
    # manifest referencing only the new batch's buckets, silently dropping
    # every previously committed key on read (r7 ADVICE, medium).
    import pytest as _pytest

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "whole_then_bucketed")
    whole = S.upsert_sink(target, "k")
    whole(spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k int, v string"), 0)

    bucketed = S.upsert_sink(target, "k", n_buckets=4)
    with _pytest.raises(ValueError, match="whole-table layout"):
        bucketed(spark.createDataFrame([(1, "x")], "k int, v string"), 1)
    # the refusal left the committed data intact
    assert {r.k for r in S.read_table(spark, target).collect()} == set(range(10))


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
    from hadoop_word_score_spark.streaming.windows import run_available_now
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
    from hadoop_word_score_spark.streaming import sinks as S

    empty = spark.createDataFrame([], "k int, v string")
    for name, sink in (
        ("bucketed", S.upsert_sink(str(tmp_path / "eb"), "k", n_buckets=4)),
        ("whole", S.upsert_sink(str(tmp_path / "ew"), "k")),
    ):
        sink(empty, 0)  # must not raise FileNotFoundError
    # and the replay guard advanced (batch 0 is now committed)
    assert S._read_pointer(str(tmp_path / "eb"))[1] == 0


def test_sink_rejects_null_keys(spark, tmp_path):
    # r8 review: merge_upsert's equi-match never matches NULL keys — the
    # row would become an accumulating all-NULL zombie (whole) or be
    # silently deleted with the stage dir (bucketed). Reject loudly.
    import pytest as _pytest

    from hadoop_word_score_spark.streaming import sinks as S

    bad = spark.createDataFrame([(None, "x"), (1, "y")], "k int, v string")
    with _pytest.raises(ValueError, match="NULL"):
        S.upsert_sink(str(tmp_path / "nw"), "k")(bad, 0)
    with _pytest.raises(ValueError, match="NULL"):
        S.upsert_sink(str(tmp_path / "nb"), "k", n_buckets=4)(bad, 0)


def test_whole_table_sink_refuses_bucketed_layout(spark, tmp_path):
    # the mirror of test_bucketed_sink_refuses_whole_table_layout
    import pytest as _pytest

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "bucketed_then_whole")
    S.upsert_sink(target, "k", n_buckets=4)(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k int, v string"), 0
    )
    with _pytest.raises(ValueError, match="bucketed"):
        S.upsert_sink(target, "k")(
            spark.createDataFrame([(1, "x")], "k int, v string"), 1
        )
    assert {r.k for r in S.read_table(spark, target).collect()} == set(range(10))


def test_read_table_explicit_version_zero_raises(spark, tmp_path):
    import pytest as _pytest

    from hadoop_word_score_spark.streaming import sinks as S

    target = str(tmp_path / "v0")
    assert S.read_table(spark, target) is None  # empty table: None
    S.upsert_sink(target, "k")(
        spark.createDataFrame([(1, "x")], "k int, v string"), 0
    )
    with _pytest.raises(ValueError, match="out of range"):
        S.read_table(spark, target, version=0)  # versions start at 1


def test_has_agg_ignores_aggregate_in_column_names(spark):
    # r8 review: a column NAMED "AggregateScore" must not flip the memory
    # sink into complete mode (substring match on the plan string did)
    from hadoop_word_score_spark.streaming.windows import _has_agg

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
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
    )

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


def test_left_outer_tail_flush_helper_recovers_batch_parity(spark, scratch_dir):
    # r10 verdict #5: the pinned caveat ("a finite drain does not flush the
    # tail") is what every backfill user hits — flush_interval_join_tail is
    # the production recipe as code. Drain once (tail rows missing), flush,
    # drain again from the SAME checkpoint: the union of the two drains
    # must equal the batch left join bit for bit, sentinels excluded.
    import datetime as dt

    from pyspark.sql import Row

    from hadoop_word_score_spark.sources.registry import TABLES
    from hadoop_word_score_spark.streaming.joins import (
        flush_interval_join_tail,
        interval_join_streams,
    )
    from hadoop_word_score_spark.streaming.windows import read_events_stream

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, minutes, uid, ty, ts=None):
        return Row(event_id=eid, ts=ts or (t0 + dt.timedelta(minutes=minutes)),
                   user_id=uid, event_type=ty, value=1.0, props="{}")

    # users 1-3 matched; users 4-5 unmatched clicks — INCLUDING user 5's
    # click at the very end of the stream, the tail row a finite drain
    # cannot flush on its own
    main = [ev(100 + u, u, u, "click") for u in range(1, 6)]
    main += [ev(200 + u, 10 + u, u, "purchase") for u in range(1, 4)]
    src = os.path.join(scratch_dir, "tailflush_src")
    schema = TABLES["events"]
    spark.createDataFrame(main, schema).coalesce(1).write.mode("overwrite").parquet(src)

    # a durable sink (parquet), not the memory sink: resuming a drain from
    # an existing checkpoint is exactly the backfill pattern the helper
    # serves, and the memory sink does not support checkpoint recovery
    ckpt = os.path.join(scratch_dir, "ckpt_tailflush")
    out = os.path.join(scratch_dir, "tailflush_out")

    def drain():
        stream = read_events_stream(spark, src, max_files_per_trigger=1)
        joined = interval_join_streams(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
            how="left_outer",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    got1 = drain()
    assert {r.user_id for r in got1 if r.r_event_id is None} == set()  # the caveat

    # the helper's contract: heartbeat rows must reach BOTH sides' filters
    flushed = flush_interval_join_tail(
        spark,
        src,
        mk_rows=lambda ts: [ev(9000, 0, -1, "click", ts=ts),
                            ev(9001, 0, -1, "purchase", ts=ts)],
        schema=schema,
    )
    assert len(flushed) == 2 and flushed[0] > t0 + dt.timedelta(minutes=95)

    got2 = drain()  # same checkpoint: only the flushed tail is new
    stream_rows = {
        (r.user_id, r.l_event_id, r.r_event_id, r.l_ts, r.r_ts)
        for r in got2 if r.user_id != -1
    }
    batch_rows = {
        (r.user_id, r.l_event_id, r.r_event_id, r.l_ts, r.r_ts)
        for r in interval_join_streams(
            spark.read.parquet(src).filter(
                (F.col("event_type") == "click") & (F.col("user_id") != -1)
            ),
            spark.read.parquet(src).filter(F.col("event_type") == "purchase"),
            how="left_outer",
        ).collect()
    }
    assert stream_rows == batch_rows
    assert {u for (u, _, r, _, _) in stream_rows if r is None} == {4, 5}


def test_psi_monitor_stream_equals_batch(spark, events_stream_dir, tmp_path):
    # streamed drift monitoring == batch analytics: drain the events
    # through the PSI monitor sink (additive counts via aggregating_sink),
    # then the report served from the standing table must equal the batch
    # events_psi_drift query bit for bit — and a replayed batch must be a
    # no-op (the exactly-once guard).
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.streaming.monitor import (
        psi_monitor_sink,
        psi_report_from_store,
    )
    from hadoop_word_score_spark.streaming.windows import read_events_stream

    target = str(tmp_path / "psi_store")
    sink = psi_monitor_sink(target)
    q = (
        read_events_stream(spark, events_stream_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_psi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = psi_report_from_store(spark, target)
    # SF_SMOKE's events dir is what the fixture re-encodes, so the batch
    # truth is the registry query over the same scale factor
    want = REGISTRY["events_psi_drift"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # replaying an already-committed batch must not change the store
    batch0 = spark.read.parquet(events_stream_dir)
    sink(batch0, 0)  # batch_id 0 was already committed by the drain
    again = psi_report_from_store(spark, target)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, want.collect()))


def test_ohlc_monitor_stream_equals_batch(spark, events_stream_dir, tmp_path):
    # streamed OHLC == batch argmax query: open/close ride struct-argmin/
    # argmax merges through mergeable_sink (lexicographic struct min/max
    # over the batch query's exact tie-safe order key), high/low/n ride
    # max/min/sum — so per-batch partials fold to the batch-over-
    # everything bars no matter how arrival slices the events. Multi-batch
    # drain forced via maxFilesPerTrigger on a two-file source.
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.streaming.monitor import (
        ohlc_monitor_sink,
        ohlc_report_from_store,
    )
    from hadoop_word_score_spark.streaming.windows import read_events_stream

    # split the events into two files so the fold actually merges partials
    src = str(tmp_path / "ohlc_src")
    ev = spark.read.parquet(events_stream_dir)
    mid = ev.selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY event_id)").first()[0]
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    ev.filter(F.col("event_id") > mid).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "ohlc_store")
    sink = ohlc_monitor_sink(target)
    q = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = ohlc_report_from_store(spark, target)
    want = REGISTRY["events_ohlc_hourly"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # replayed batch: no-op
    sink(spark.read.parquet(src), 0)
    again = ohlc_report_from_store(spark, target)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, want.collect()))


def test_mergeable_sink_state_invariant_under_arrival_slicing(spark, tmp_path):
    # the mergeable contract itself: ANY slicing of the same rows into
    # micro-batches folds to the same standing state. Three different
    # slicings of one constructed event set (1 batch, 2 uneven batches,
    # row-by-row-ish 4 batches) must serve identical OHLC bars.
    import datetime as dt

    from pyspark.sql import Row

    from hadoop_word_score_spark.sources.registry import TABLES
    from hadoop_word_score_spark.streaming.monitor import (
        ohlc_monitor_sink,
        ohlc_report_from_store,
    )

    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        Row(event_id=i, ts=t0 + dt.timedelta(minutes=7 * i), user_id=i % 3,
            event_type="tick", value=float((i * 37) % 11) - 3.0, props="{}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, TABLES["events"])
    reports = []
    for si, cuts in enumerate([[24], [5, 24], [3, 9, 17, 24]]):
        target = str(tmp_path / f"slice{si}")
        sink = ohlc_monitor_sink(target)
        lo = 0
        for bid, hi in enumerate(cuts):
            sink(df.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)), bid)
            lo = hi
        reports.append(
            sorted(map(tuple, ohlc_report_from_store(spark, target).collect()))
        )
    assert reports[0] == reports[1] == reports[2]
    assert len(reports[0]) > 1  # multiple hourly bars actually formed


def test_mergeable_sink_rejects_non_mergeable_fold(spark, tmp_path):
    # avg/first/etc. are not commutative-monoid merges — state would
    # depend on arrival slicing; the sink must refuse loudly up front
    import pytest as _pytest

    from hadoop_word_score_spark.streaming.sinks import mergeable_sink

    with _pytest.raises(ValueError, match="unsupported merge"):
        mergeable_sink(str(tmp_path / "t"), ["k"], {"v": "avg"})
    with _pytest.raises(ValueError, match="at least one key"):
        mergeable_sink(str(tmp_path / "t"), [], {"v": "sum"})


def test_monitor_reports_none_before_first_commit(spark, tmp_path):
    from hadoop_word_score_spark.streaming.monitor import (
        ohlc_report_from_store,
        psi_report_from_store,
    )

    assert psi_report_from_store(spark, str(tmp_path / "nope1")) is None
    assert ohlc_report_from_store(spark, str(tmp_path / "nope2")) is None


def test_scd2_sink_incremental_equals_batch_and_replays_safely(spark, tmp_path):
    # r11: streaming SCD2 maintenance — per-key incremental rebuild over
    # three arrival batches (including an OUT-OF-ORDER early version for
    # an existing key) must equal scd2_history over everything, bit for
    # bit; a replayed batch is a no-op; a conflicting payload fails loudly.
    import pytest as _pytest

    from hadoop_word_score_spark.operators.scd2 import scd2_history
    from hadoop_word_score_spark.streaming.sinks import read_table, scd2_sink

    schema = "k int, payload string, valid_from int"
    b0 = [(1, "a1", 10), (2, "b1", 10), (3, "c1", 10)]
    b1 = [(1, "a2", 30), (4, "d1", 20)]          # key 1 evolves, key 4 new
    b2 = [(1, "a0", 5), (2, "b1", 10)]           # LATE early version for 1;
    #                                              exact replay row for 2
    target = str(tmp_path / "scd2_dim")
    sink = scd2_sink(target, "k", "valid_from")
    for i, rows in enumerate((b0, b1, b2)):
        sink(spark.createDataFrame(rows, schema), i)

    got = read_table(spark, target)
    want = scd2_history(
        spark.createDataFrame([*b0, *b1, *b2], schema), "k", "valid_from"
    )
    key = lambda r: (r.k, r.valid_from)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the late early version (k=1, t=5) must have been spliced in: its
    # valid_to is the NEXT version's start, and only t=30 is current
    tl = {(r.k, r.valid_from): (r.valid_to, r.is_current) for r in got.collect()}
    assert tl[(1, 5)] == (10, 0) and tl[(1, 10)] == (30, 0)
    assert tl[(1, 30)] == (None, 1)

    # replayed batch id: no new snapshot version, table unchanged
    before = sorted(map(tuple, read_table(spark, target).collect()))
    sink(spark.createDataFrame(b1, schema), 1)
    assert sorted(map(tuple, read_table(spark, target).collect())) == before

    # untouched keys carry over without a rebuild; a conflicting payload
    # for an existing instant fails the batch loudly (scd2_history guard)
    with _pytest.raises(Exception, match="same effective instant"):
        sink(spark.createDataFrame([(2, "CONFLICT", 10)], schema), 3)
    # the failed batch must not have committed a snapshot
    assert sorted(map(tuple, read_table(spark, target).collect())) == before


def test_pit_enrich_stream_equals_batch_offline(spark, scratch_dir):
    # r11: the closed feature-platform loop — CDC feed maintains the SCD2
    # dimension through scd2_sink, fact micro-batches PIT-enrich against
    # the committed snapshot through pit_enrich_stream_sink — and with the
    # dimension settled before the facts drain, online == offline (batch
    # pit_enrich over the final dimension) bit for bit. Also: a replayed
    # fact batch overwrites its own output (no duplicates), and facts
    # before the first version are dropped in both paths.
    import datetime as dt

    from hadoop_word_score_spark.operators.scd2 import pit_enrich
    from hadoop_word_score_spark.streaming.joins import pit_enrich_stream_sink
    from hadoop_word_score_spark.streaming.sinks import read_table, scd2_sink

    t = lambda d: dt.datetime(2024, 1, d, 12, 0, 0)
    dim_schema = "k int, segment string, valid_from timestamp"
    dim_target = os.path.join(scratch_dir, "pit_dim")
    dsink = scd2_sink(dim_target, "k", "valid_from")
    dsink(spark.createDataFrame(
        [(1, "bronze", t(1)), (2, "silver", t(1))], dim_schema), 0)
    dsink(spark.createDataFrame(
        [(1, "gold", t(10)), (3, "bronze", t(5))], dim_schema), 1)

    fact_schema = "fact_id int, k int, ts timestamp, amount double"
    facts = [
        (100, 1, t(2), 5.0),    # sees bronze (v1 of key 1)
        (101, 1, t(20), 7.0),   # sees gold (v2)
        (102, 2, t(3), 1.0),    # sees silver
        (103, 3, t(4), 2.0),    # BEFORE key 3's first version: dropped
        (104, 3, t(6), 3.0),    # sees key 3 bronze
        (105, 9, t(6), 4.0),    # unknown key: dropped
    ]
    out_dir = os.path.join(scratch_dir, "pit_out")
    fsink = pit_enrich_stream_sink(
        out_dir, dim_target, on="k", fact_ts="ts", payload=["segment"]
    )
    fdf = spark.createDataFrame(facts, fact_schema)
    fsink(fdf.filter(F.col("fact_id") < 103), 0)
    fsink(fdf.filter(F.col("fact_id") >= 103), 1)
    fsink(fdf.filter(F.col("fact_id") >= 103), 1)  # replay: overwrite, no dupes

    online = spark.read.parquet(out_dir)
    offline = pit_enrich(
        fdf, read_table(spark, dim_target),
        on="k", fact_ts="ts", payload=["segment"],
    )
    assert sorted(map(tuple, online.drop("batch").collect() if "batch" in online.columns else online.collect())) \
        == sorted(map(tuple, offline.collect()))
    got = {r.fact_id: r.asof_segment for r in online.collect()}
    assert got == {100: "bronze", 101: "gold", 102: "silver", 104: "bronze"}


def test_scd2_sink_bucketed_partial_rewrite(spark, tmp_path):
    # r11: the bucketed scd2_sink rewrites ONLY the buckets a batch's keys
    # hash into (manifest versions advance per touched bucket), while the
    # table read equals the whole-table sink's result — which equals batch
    # scd2_history.
    import json as _json
    import os as _os

    from hadoop_word_score_spark.operators.scd2 import scd2_history
    from hadoop_word_score_spark.streaming.sinks import read_table, scd2_sink

    schema = "k int, payload string, valid_from int"
    b0 = [(k, f"p{k}", 10) for k in range(1, 25)]       # 24 keys spread wide
    b1 = [(1, "p1v2", 30), (2, "p2v2", 30)]             # touches few buckets
    target = str(tmp_path / "scd2_bucketed")
    sink = scd2_sink(target, "k", "valid_from", n_buckets=8)
    sink(spark.createDataFrame(b0, schema), 0)
    with open(_os.path.join(target, "_manifest.v1")) as f:
        m1 = _json.load(f)
    sink(spark.createDataFrame(b1, schema), 1)
    with open(_os.path.join(target, "_manifest.v2")) as f:
        m2 = _json.load(f)
    advanced = {b for b in m2["buckets"] if m2["buckets"][b] == 2}
    unchanged = {b for b in m2["buckets"]
                 if m1["buckets"].get(b) == m2["buckets"][b]}
    assert 1 <= len(advanced) <= 2  # keys 1 and 2 hash into <= 2 buckets
    assert advanced | unchanged == set(m2["buckets"])
    assert len(unchanged) >= 6  # the untouched majority was NOT rewritten

    got = read_table(spark, target).drop("_b")
    want = scd2_history(
        spark.createDataFrame([*b0, *b1], schema), "k", "valid_from"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    tl = {(r.k, r.valid_from): (r.valid_to, r.is_current) for r in got.collect()}
    assert tl[(1, 10)] == (30, 0) and tl[(1, 30)] == (None, 1)
    assert tl[(3, 10)] == (None, 1)  # untouched key carried over intact


def test_scd2_sink_bucketed_vacuum_and_time_travel(spark, tmp_path):
    # the shared bucketed core composes with the table utilities: version 1
    # time-travels until vacuum reclaims the superseded bucket snapshots,
    # after which reading it raises rather than serving partial data.
    import pytest as _pytest

    from hadoop_word_score_spark.streaming.sinks import (
        read_table,
        scd2_sink,
        vacuum,
    )

    schema = "k int, payload string, valid_from int"
    target = str(tmp_path / "scd2_vac")
    sink = scd2_sink(target, "k", "valid_from", n_buckets=4)
    sink(spark.createDataFrame([(k, f"p{k}", 10) for k in range(8)], schema), 0)
    sink(spark.createDataFrame([(0, "p0v2", 20)], schema), 1)

    v1_rows = read_table(spark, target, version=1).count()
    assert v1_rows == 8 and read_table(spark, target).count() == 9
    removed = vacuum(target)
    assert removed  # superseded bucket version(s) reclaimed
    assert read_table(spark, target).count() == 9  # live table intact
    with _pytest.raises(ValueError, match="vacuumed"):
        read_table(spark, target, version=1)
    assert vacuum(target) == []  # idempotent


def test_scd2_sink_whole_table_rejects_null_keys(spark, tmp_path):
    # review r11: NULL keys never equi-match, so the incremental rebuild
    # would accumulate overlapping NULL timelines — reject at the boundary
    # like the bucketed core and upsert_sink do
    import pytest as _pytest

    from hadoop_word_score_spark.streaming.sinks import scd2_sink

    sink = scd2_sink(str(tmp_path / "scd2_null"), "k", "valid_from")
    bad = spark.createDataFrame(
        [(None, "p", 10)], "k int, payload string, valid_from int"
    )
    with _pytest.raises(ValueError, match="NULL 'k' keys"):
        sink(bad, 0)


def test_bucketed_batch_write_unpersists_on_combine_failure(spark, tmp_path):
    # ADVICE r11: a combine() that raises mid-batch (e.g. scd2's conflict
    # assert_true) must not leak the persisted micro-batch into the
    # long-lived streaming session — every failed/retried batch would pin
    # more cached blocks. Drive the shared core directly with a raising
    # combine and check the storage level is cleared and no stage dir
    # survives.
    import os as _os

    import pytest as _pytest

    from hadoop_word_score_spark.streaming.sinks import _bucketed_batch_write

    target = str(tmp_path / "leak")
    src = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")

    captured = {}

    def boom(cur, batch):
        captured["batch"] = batch
        raise RuntimeError("combine exploded")

    n_cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with _pytest.raises(RuntimeError, match="combine exploded"):
        _bucketed_batch_write(target, "k", 4, boom, src, 0, "leak-test")
    assert captured["batch"].storageLevel.useMemory is False  # unpersisted
    assert not [
        d for d in (_os.listdir(target) if _os.path.isdir(target) else [])
        if d.startswith("_stage")
    ]

    # NULL-key rejection path unpersists too (it raises before combine)
    bad = spark.createDataFrame([(None, "x")], "k int, v string")
    with _pytest.raises(ValueError, match="NULL 'k' keys"):
        _bucketed_batch_write(target, "k", 4, boom, bad, 0, "leak-test")
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size()
        == n_cached_before
    )


def test_flush_interval_join_tail_empty_source_raises(spark, tmp_path):
    # ADVICE r11: max(ts) over an empty source is NULL; without the guard
    # the heartbeats get NULL timestamps and the failure surfaces as an
    # opaque createDataFrame error far from the cause.
    import pytest as _pytest

    from hadoop_word_score_spark.streaming.joins import (
        flush_interval_join_tail,
    )

    src = str(tmp_path / "empty_src")
    spark.createDataFrame(
        [], "user_id int, ts timestamp"
    ).write.parquet(src)
    with _pytest.raises(ValueError, match="no rows with a non-null 'ts'"):
        flush_interval_join_tail(
            spark, src,
            mk_rows=lambda ts: [(0, ts)],
            schema="user_id int, ts timestamp",
        )


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
