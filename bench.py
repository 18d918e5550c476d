#!/usr/bin/env python
"""Benchmark harness: every ``bench=True`` registry row, end to end and per layer.

Runs every ``bench=True`` query from the registry at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]``, plus the two streaming drains, and prints ONE
JSON line:

    {"metric": "bench_total_sec", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "bench_set": [...], "bench_set_hash": "...",
     "sf": 0.1, "cpus": 8}

Each query is timed end to end: plan construction plus execution of every
row into ``df.write.format("noop")``, a full materialisation without local
disk write costs. The published value of a row is the min of 3 interleaved
trials; the first (cold) trial is reported separately.

Rows run in groups of ``GROUP_SIZE``, in registration order, each group in
a fresh subprocess with its own JVM and SparkSession, so no row runs in a
session aged by more than a few others. The fixed warm-up is excluded from
every timing.

Layers: after the last trial of each row, perfbench's ``Collector`` reads
what that trial ran from Spark's status store (SQL executions, jobs,
stages, operator metrics, Arrow boundary, pins) and the row keeps it as its
``layers`` record in ``BENCH_LOCAL.json``, under the metric names of
``BENCHMARK.json``.

Gate: wall time on a shared host moves by tens of percent on unchanged
code, so the comparison with the previous run is on deterministic
counters, ``GATED``. Only a previous run at the same scale factor and the
same ``local[N]`` parallelism (``cpus``) is compared: file splits, AQE
partition coalescing and several operators size their work from N. A row
whose gated counter changed is listed in ``vs_prev_regressions`` as
``{counter: [prev, now]}``, with ``impl_changed`` telling whether its
implementation fingerprint moved. A row more than 1.5x slower with
unchanged counters is not flagged; it is listed in ``vs_prev_slower`` with
the time layer that grew most.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time

from collections.abc import Callable
from types import SimpleNamespace

_HERE = os.path.dirname(os.path.abspath(__file__))
_LOCAL = os.path.join(_HERE, "BENCH_LOCAL.json")
sys.path.insert(0, _HERE)

from perfbench.collect import Collector, observability_confs  # noqa: E402

GROUP_SIZE = 6

# Counters that are identical across runs of the same code at the same
# scale factor and local[N]; a change in one is a change in the work a row
# does.
# pins.count is recorded but not gated: pins a row creates and drops can be
# released by JVM garbage collection before the collector reads storage,
# so it varied between two sf0.1 runs of the same code on 4 cores
# (html_links_by_host 6/5, streaming_ingest_drain 4/2).
GATED = (
    "driver.sql_executions",
    "driver.jobs",
    "exchange.shuffle_records",
    "arrow.rows_sent",
)


def _groups(names: list[str]) -> list[list[str]]:
    """Registration-order chunks of ``GROUP_SIZE``: one fresh session each."""
    return [names[i : i + GROUP_SIZE] for i in range(0, len(names), GROUP_SIZE)]


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return 0.0


def _warm(spark, sf_dir: str, group: list[str]) -> None:
    """One-time costs paid before any timed pass: JVM, parquet footer + OS
    page caches, the Python/Arrow worker pool (~3s, once per executor
    lifetime on a real cluster), and — the r10 lesson — the JVM's own JIT.

    BENCH_r10 (the first grouped-subprocess artifact) showed untouched
    iterative rows 1.4-1.9x slower in the driver environment than the local
    closing run: each fresh group JVM re-interprets Spark's execution
    classes until HotSpot C2 has compiled them, and a single arbitrary warm
    query did not reliably get there before timing started. The warm-up is
    now FIXED and synthetic (r10 advice: the old "first registry entry not
    in the group" pick was arbitrary-cost and group-composition-dependent):
    a deterministic range-based pipeline exercising the hot execution
    machinery every bench row uses — hash aggregate, sort-merge + broadcast
    join, window, sort, whole-stage codegen — run twice so the second pass
    executes mostly C2-compiled code, plus one Arrow round-trip for the
    Python worker pool, plus a footer-cache scan of every table. Cost is
    data-independent (spark.range), identical for every group, and excluded
    from all timings; group members are never used (warming with a member
    made that member's pass-0 "cold" sample a warm one, review r10)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hadoop_word_score_spark.sources.registry import TABLES, load_table

    dim = spark.range(64).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
    )
    for _ in range(2):  # second pass runs C2-compiled code paths
        big = spark.range(200_000).select(
            (F.col("id") % 1024).alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        (
            big.join(F.broadcast(dim), "k")
            .groupBy("k", "tag")
            .agg(F.sum("v").alias("s"), F.avg("v").alias("a"),
                 F.count("*").alias("c"))
            .withColumn(
                "r",
                F.row_number().over(
                    Window.partitionBy("tag").orderBy(F.desc("s"))
                ),
            )
            .orderBy("tag", "r")
            .write.format("noop").mode("overwrite").save()
        )
    spark.range(8).select(
        F.pandas_udf(lambda s: s + 1, "long")(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    # Warm each table's file listing (Spark-side LIMIT 1 plan) and then
    # EVERY file's parquet footer (driver-side pyarrow metadata read). The
    # LIMIT 1 alone plans a CollectLimit that opens only the FIRST file of
    # a multi-file table, so most footers stayed cold and their reads
    # landed inside the timed pass-0 "cold" sample (ADVICE r11 — shifted
    # cold numbers vs the r10 full-scan methodology). pyarrow's
    # ParquetFile.metadata pulls exactly the footer bytes into the OS page
    # cache — no data pages decoded, so the data itself still reads cold
    # in pass 0, which is the part "cold" is supposed to measure.
    import glob as _glob

    import pyarrow.parquet as _pq

    for t in sorted(TABLES):
        load_table(spark, sf_dir, t).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()
        table_path = os.path.join(sf_dir, f"{t}.parquet")
        files = (
            _glob.glob(os.path.join(table_path, "**", "*.parquet"),
                       recursive=True)
            if os.path.isdir(table_path)
            else [table_path] if os.path.exists(table_path) else []
        )
        for fp in files:
            _pq.ParquetFile(fp).metadata  # noqa: B018 — footer read is the point
    # ...but the VECTORIZED PARQUET READER itself still needs its C2 warm
    # (a LIMIT 1 decodes one batch; an A/B rerun showed warm medians ~10%
    # higher without reader warm-up). Warm it on a SYNTHETIC parquet
    # written to scratch — reading a slice of a real bench table would
    # warm the OS page cache for data the timed pass-0 "cold" samples are
    # supposed to read cold (review r11; same r10 rule that banned warming
    # with a group member). Mixed column types exercise the long/double/
    # string/date decoders; cost is row-capped and SF-independent.
    import shutil
    import tempfile

    warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        spark.range(200_000).select(
            F.col("id"),
            (F.col("id") % 97).cast("double").alias("d"),
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("s"),
            F.date_add(F.lit("2024-01-01").cast("date"),
                       (F.col("id") % 365).cast("int")).alias("dt"),
        ).write.mode("overwrite").parquet(warm_dir)
        spark.read.parquet(warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)


def _collector(spark) -> Collector:
    """perfbench's status-store collector over bench trials: each trial is
    one ``iteration`` span, and no workload result feeds its funnels."""
    return Collector(spark, SimpleNamespace(records=[]))


def _trial(collector: Collector, body: Callable, read: bool) -> tuple[float, dict | None]:
    """Wall seconds of one trial of ``body``, and with ``read`` the per-layer
    record of everything it ran (DataFrame construction included), taken
    from the status store after the clock stops. ``body`` may return the
    streaming query it drained; its progress feeds the streaming layers."""
    mark = collector.mark() if read else None
    start, t0 = time.time(), time.perf_counter()
    query = body()
    dt = round(time.perf_counter() - t0, 3)
    if not read:
        return dt, None
    collector.spans.records[:] = [
        {"name": "iteration", "start": start, "end": start + dt}
    ]
    progress = [] if query is None else [
        json.loads(p.json) for p in query.recentProgress
    ]
    res = SimpleNamespace(progress=progress, batch_s=[], probe_results=0)
    layers = collector.layers(mark, 0, res, dt)
    return dt, {k: round(v, 4) for k, v in layers.items()}


def _group_main(names: list[str]) -> None:
    """Child mode: time the given queries in a fresh session, print one JSON
    line {"trials": {...}, "cold": {...}, "layers": {...}} and exit. All
    trials of a row share one young session, so the min is warm steady
    state."""
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-group", extra_confs=observability_confs(1))
    _warm(spark, sf_dir, names)
    collector = _collector(spark)
    layers: dict[str, dict] = {}

    def run_once(name: str, last: bool) -> float:
        def body() -> None:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

        dt, rec = _trial(collector, body, last)
        if rec is not None:
            layers[name] = rec
        return dt

    # Three passes per query, interleaved (a transient stall hits one trial
    # of several queries, not all trials of one). The first execution of any
    # plan pays one-time costs — Catalyst planning, whole-stage-codegen
    # janino compilation, Arrow-worker stage spin-up (~2-3s/query vs ~1s
    # steady state); the min isolates steady-state execution, the quantity
    # that scales with data. The cold pass is still reported.
    cold: dict[str, float] = {}
    trials: dict[str, list[float]] = {n: [] for n in names}
    for pass_no in range(3):
        for name in names:
            dt = run_once(name, last=pass_no == 2)
            if pass_no == 0:
                cold[name] = dt
            trials[name].append(dt)
    print(json.dumps({"trials": trials, "cold": cold, "layers": layers}))
    spark.stop()


def _time_layers(rec: dict) -> list[str]:
    """The time layers of a ``layers`` record: its seconds-valued keys,
    less the row's wall time (``job_s``), the collector's own read, and
    ``arrow.worker_init_s``. Spark's "time to initialize Python workers"
    is larger per task than the task's own run time (2.1 s against about
    0.5 s for one task of ``dedup_near_phash`` at sf0.01), so it is a
    diagnostic, not a share of task time. ``arrow.python_s`` stays: per
    node and task it is below the task's run time, and it exceeds
    ``tasks.run_s`` only where several Python nodes run pipelined, and so
    concurrently, in one task."""
    return [k for k in rec if k.endswith(("_s", ".s"))
            and k not in ("job_s", "trace.collect_s", "arrow.worker_init_s")]


def _vs_prev(
    prev: dict,
    timings: dict[str, float],
    layers: dict[str, dict],
    impl_changed: dict[str, bool],
) -> tuple[dict[str, dict], dict[str, dict]]:
    """(regressions, slower) against the previous run's record ``prev``.

    A row regresses when a ``GATED`` counter differs: ``{counter: [prev,
    now], ..., "impl_changed": bool}``. A row with unchanged counters but
    more than 1.5x its previous wall time is only listed as slower:
    ``{"ratio": r, "layer": <time layer that grew most>}``. Rows without a
    previous layers record are not compared."""
    regressions: dict[str, dict] = {}
    slower: dict[str, dict] = {}
    for n, now in layers.items():
        before = prev.get("layers", {}).get(n)
        if before is None:
            continue
        moved = {c: [before.get(c), now.get(c)] for c in GATED
                 if before.get(c) != now.get(c)}
        if moved:
            regressions[n] = {**moved, "impl_changed": impl_changed.get(n, False)}
            continue
        was = prev.get("queries", {}).get(n, 0)
        if was > 0 and timings[n] > 1.5 * was:
            grown = max(_time_layers(now),
                        key=lambda k: now[k] - before.get(k, 0.0))
            slower[n] = {"ratio": round(timings[n] / was, 2), "layer": grown}
    return regressions, slower


# The import-names group has two alternatives: a parenthesized list (which
# may SPAN LINES — "[^)]*" matches newlines, so "from ..pkg import (\n a,\n
# b)" captures every name; a to-end-of-line match captured just "(" and
# silently dropped all submodules from the fingerprint, r7 ADVICE), or the
# plain to-end-of-line form.
_REL_IMPORT_RE = re.compile(
    r"^\s*from\s+(\.+)([\w.]*)\s+import\s+(\([^)]*\)|[^\n]+)", re.M
)
_PKG_ROOT = os.path.join(_HERE, "hadoop_word_score_spark")


def _resolve_rel_imports(src: str, pkg_parts: tuple[str, ...]) -> set[str]:
    """Engine modules named by the relative imports in ``src``, as dotted
    paths relative to the package root (e.g. ``operators.similarity``).
    ``pkg_parts`` is the package the source lives in (``("plans",)`` for a
    query function's body).

    A target that resolves to a package DIRECTORY (``from ..functions import
    codecs``) contributes its ``__init__`` plus every imported name that is a
    submodule — previously such imports were silently dropped because only
    ``<target>.py`` was probed, so e.g. ``functions/codecs.py`` stayed out of
    every multimodal query's implementation fingerprint (r6 ADVICE, medium).
    An unresolvable relative import now fails loudly instead of narrowing
    the fingerprint.
    """
    mods: set[str] = set()
    for dots, rest, names in _REL_IMPORT_RE.findall(src):
        up = len(dots) - 1
        base = pkg_parts[: len(pkg_parts) - up] if up else pkg_parts
        target = ".".join((*base, *rest.split("."))) if rest else ".".join(base)
        if not target:
            continue
        mod_path = os.path.join(_PKG_ROOT, *target.split(".")) + ".py"
        pkg_dir = os.path.join(_PKG_ROOT, *target.split("."))
        if os.path.exists(mod_path):
            mods.add(target)
        elif os.path.isdir(pkg_dir):
            mods.add(target + ".__init__")
            # `from ..pkg import a, b as c` — each name that is a submodule
            # file joins the fingerprint; pure-attribute names resolve via
            # the package __init__ hashed above.
            # strip comments PER LINE: a trailing '# ...' inside a
            # multiline parenthesized list must not swallow the names on
            # the following lines (review r8 — the silent-narrowing bug
            # again, one layer down)
            cleaned = re.sub(r"#[^\n]*", "", names)
            name_list = [
                n.strip().split(" as ")[0].strip()
                for n in cleaned.strip().strip("()").split(",")
            ]
            if not any(name_list):
                # a package-directory import whose names failed to parse
                # would silently narrow the fingerprint — the exact failure
                # mode this closure exists to prevent
                raise ImportError(
                    f"fingerprint closure parsed no import names from "
                    f"'from {dots}{rest} import {names.strip()[:60]}'"
                )
            for sub in name_list:
                if sub and os.path.exists(os.path.join(pkg_dir, sub + ".py")):
                    mods.add(target + "." + sub)
        else:
            raise ImportError(
                f"fingerprint closure cannot resolve relative import "
                f"'from {dots}{rest} import {names.strip()}' (pkg {pkg_parts})"
            )
    return mods


def _engine_module_closure(mods: tuple[str, ...]) -> list[str]:
    """Transitive closure of engine modules over their own relative imports,
    so a rewrite two hops away (queries → operators.dedup →
    functions.hashing) still lands in the fingerprint."""
    seen: set[str] = set()
    stack = list(mods)
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        path = os.path.join(_PKG_ROOT, *m.split(".")) + ".py"
        if not os.path.exists(path):
            continue
        seen.add(m)
        with open(path, encoding="utf-8") as f:
            stack.extend(_resolve_rel_imports(f.read(), tuple(m.split(".")[:-1])))
    return sorted(seen)


def _modules_digest(mods: tuple[str, ...]) -> str:
    cache = _modules_digest_cache
    if mods not in cache:
        parts = []
        for m in _engine_module_closure(mods):
            path = os.path.join(_PKG_ROOT, *m.split(".")) + ".py"
            with open(path, "rb") as f:
                parts.append(m + ":" + hashlib.md5(f.read()).hexdigest())
        cache[mods] = hashlib.md5("\n".join(parts).encode()).hexdigest()
    return cache[mods]


_modules_digest_cache: dict[tuple[str, ...], str] = {}


def _impl_fp(fn: Callable) -> str:
    """Fingerprint of a query's IMPLEMENTATION: its function source plus the
    content of every engine module its body imports (transitively), so a
    rewrite of the query fn OR of any operator module it reaches marks the
    bench row as changed. Granularity is module-level and conservative: an
    unrelated edit in a shared module flags every row that imports it;
    edits to queries.py OUTSIDE the fn (helpers, other queries) do not.
    """
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return "nosource"
    mods = tuple(sorted(_resolve_rel_imports(src, ("plans",))))
    return hashlib.md5((src + "|" + _modules_digest(mods)).encode()).hexdigest()[:12]


def _impl_fp_state(
    names: list[str], prev_fps: dict[str, str]
) -> tuple[dict[str, str], dict[str, bool]]:
    """(current per-row implementation fingerprints, per-row changed flags
    vs ``prev_fps``, the previous run's). A row with no recorded fp is
    unknowable, recorded as unchanged rather than guessed."""
    from hadoop_word_score_spark.plans.queries import REGISTRY

    cur = {n: _impl_fp(REGISTRY[n].fn) for n in names if n in REGISTRY}
    changed = {n: prev_fps.get(n) not in (None, fp) for n, fp in cur.items()}
    return cur, changed


def _previous_record(sf: float, cpus: int) -> dict:
    """The previous run's full record from BENCH_LOCAL.json, or {} when
    there is none or it was taken at another scale factor or another
    ``local[N]`` parallelism (its counters would not be comparable)."""
    try:
        with open(_LOCAL) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return {}
    same = isinstance(rec, dict) and rec.get("sf") == sf and rec.get("cpus") == cpus
    return rec if same else {}


def _parse_group_stdout(stdout: str) -> dict | None:
    """Last line of child stdout that is the result dict, else None.

    A stray JSON-parseable log line ("null", a bare number) must not be
    mistaken for the result — only the child's result dict carries "trials"
    (r10 advice: returning a bare value as-is surfaced as a TypeError in
    main() instead of the diagnostic RuntimeError)."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            obj = json.loads(line)
        except (json.JSONDecodeError, ValueError):
            continue
        if isinstance(obj, dict) and "trials" in obj:
            return obj
    return None


def _run_group(names: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--group", ",".join(names)],
        capture_output=True,
        text=True,
        cwd=_HERE,
    )
    res = _parse_group_stdout(proc.stdout)
    if res is not None:
        return res
    raise RuntimeError(
        f"group {names} produced no result JSON (rc={proc.returncode}):\n"
        f"{proc.stderr[-2000:]}"
    )


def main() -> None:
    if "--group" in sys.argv:
        _group_main(sys.argv[sys.argv.index("--group") + 1].split(","))
        return

    from hadoop_word_score_spark.plans.queries import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [n for n, s in REGISTRY.items() if s.bench]
    groups = _groups(names)
    trials: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for g in groups:  # sequential — parallel groups would contend for CPUs
        res = _run_group(g)
        trials.update(res["trials"])
        cold.update(res["cold"])
        layers.update(res["layers"])

    # Streaming rows run in the parent's own (otherwise idle) session — their
    # checkpoints are fresh per trial and the session has run nothing else.
    from hadoop_word_score_spark.session import default_parallelism, get_spark

    spark = get_spark("bench", extra_confs=observability_confs(1))
    collector = _collector(spark)
    for name, smoke in (("streaming_tumbling_drain", _streaming_smoke),
                        ("streaming_ingest_drain", _ingest_smoke)):
        best, layers[name] = smoke(spark, sf_dir, collector)
        trials[name] = [best]
        names.append(name)
    timings = {n: min(ts) for n, ts in trials.items()}

    import statistics

    warm_median = {
        n: round(statistics.median(ts[1:] or ts), 3) for n, ts in trials.items()
    }
    sf = sf_of(sf_dir)
    cpus = default_parallelism()  # the local[N] every session here ran on
    prev = _previous_record(sf, cpus)
    impl_fps, impl_changed = _impl_fp_state(names, prev.get("impl_fps", {}))
    regressions, slower = _vs_prev(prev, timings, layers, impl_changed)

    # Membership fingerprint (r5 advice): the headline total is only
    # comparable across rounds when the bench SET is unchanged; recording
    # the sorted membership + a short hash lets any cross-round comparison
    # detect that the denominator moved instead of misreading a grown set
    # as a regression (r5's total grew 5.2s purely from 3 added rows).
    member_hash = hashlib.md5("|".join(sorted(names)).encode()).hexdigest()[:12]

    out = {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "warm_median_queries": warm_median,
        "warm_median_total_sec": round(sum(warm_median.values()), 3),
        "cold_total_sec": round(sum(cold.values()), 3),
        "bench_set": sorted(names),
        "bench_set_hash": member_hash,
        "isolation": {"mode": "grouped-subprocess", "group_size": GROUP_SIZE,
                      "groups": len(groups), "grouping": "registration-order"},
        "sf": sf,
        "cpus": cpus,
    }
    if regressions:
        out["vs_prev_regressions"] = regressions
    if slower:
        out["vs_prev_slower"] = slower

    # Full per-row artifact committed in-repo (r10 verdict: the driver's
    # BENCH_r*.json keeps only a 2,000-char stdout tail, which truncated 8
    # of 38 per-row timings and blocked the cross-round audit). Every trial
    # is recorded, not just the published min/median, so a disputed row can
    # be re-examined without a rerun; so is each row's layers record, which
    # the next run's counter gate compares against.
    local = dict(out)
    local["trials"] = trials
    local["impl_fps"] = impl_fps
    local["layers"] = layers
    with open(_LOCAL, "w") as f:
        json.dump(local, f, indent=1, sort_keys=True)

    print(json.dumps(out))
    spark.stop()


def _streaming_smoke(spark, sf_dir: str, collector: Collector) -> tuple[float, dict]:
    """Min-of-2 wall time to drain the sf events through the streaming path,
    and the layers record of the last drain.

    Each drain uses a FRESH checkpoint dir — a reused one would make the
    second run an incremental no-op and time nothing. The events table is
    re-encoded to µs once (the streaming file source can't read
    TIMESTAMP(NANOS) legacy testdata, mirroring tests/test_streaming.py).
    """
    import shutil

    from hadoop_word_score_spark.sources.registry import load_table
    from hadoop_word_score_spark.streaming.windows import (
        read_events_stream,
        tumbling_counts_stream,
    )

    scratch = os.path.join(_HERE, ".scratch", "bench_stream")
    src = os.path.join(scratch, "events_us")
    shutil.rmtree(scratch, ignore_errors=True)
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    # Stateful streams pay per state-store instance (one per shuffle
    # partition): at this state size the batch default of 64 spends 3.5s on
    # store commits for a 1s drain (measured 64→16→8: 3.52/1.39/1.06s).
    # Sizing state partitions to state volume — not scan width — is the
    # production guidance for streaming jobs; 16 keeps headroom for the
    # window-key cardinality at larger SFs.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        times = []
        for i in range(2):
            ckpt = os.path.join(scratch, f"ckpt{i}")

            def drain(ckpt=ckpt):
                q = (
                    tumbling_counts_stream(read_events_stream(spark, src))
                    .writeStream.format("noop")
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                return q

            dt, layers = _trial(collector, drain, read=i == 1)
            times.append(dt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(scratch, ignore_errors=True)
    return min(times), layers


def _ingest_smoke(spark, sf_dir: str, collector: Collector) -> tuple[float, dict]:
    """Min-of-2 wall time to ingest the sf documents in two arrival batches
    through the dedup-on-ingest sink, and the layers record of the last
    trial. Fresh target per trial — a reused one
    would replay-skip both batches and time nothing. Timed per trial:
    2 × (sign batch + within-batch LSH pairs) + 1 × (persisted-index probe
    + verify join) + 2 snapshot commits."""
    import shutil

    from pyspark.sql import functions as F

    from hadoop_word_score_spark.sources.registry import load_table
    from hadoop_word_score_spark.streaming.ingest import dedup_ingest_sink

    scratch = os.path.join(_HERE, ".scratch", "bench_ingest")
    shutil.rmtree(scratch, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.count() // 2  # testdata doc_ids are contiguous from 0
    b0 = docs.filter(F.col("doc_id") < mid)
    b1 = docs.filter(F.col("doc_id") >= mid)
    try:
        times = []
        for i in range(2):

            def ingest(target=os.path.join(scratch, f"t{i}")) -> None:
                sink = dedup_ingest_sink(target)
                sink(b0, 0)
                sink(b1, 1)

            dt, layers = _trial(collector, ingest, read=i == 1)
            times.append(dt)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return min(times), layers


if __name__ == "__main__":
    main()
