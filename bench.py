#!/usr/bin/env python
"""Benchmark harness — the driver's per-round feedback loop.

Runs every ``bench=True`` query from the registry at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is timed end-to-end: plan construction + execution to a
driver-side count via ``df.write.format("noop")`` — a full materialization
of every row (like the reference writing its output file, CWS:215-216)
without paying local-disk write costs that wouldn't exist on a cluster.

Session isolation (r10): queries are timed in GROUPS of 6, each group in a
FRESH subprocess with its own JVM/SparkSession. Two rounds of diagnosis
(r8's receipted interference, r9's drift on untouched code) showed the
former shared-session design let session age — accumulated codegen cache,
GC pressure, Python-worker state from 38 rows x 3 passes — shift published
minimums on bit-identical code: cross-round spread on untouched rows
reached 1.2-1.6x, monotonic r7<r8<r9 as the set grew, while isolated
fresh-session reruns recovered the old numbers (SCALE_PROBE.md isolation
receipt). Bounding every row's session age at one small group removes the
drift class for all rows, permanently, instead of maintaining a flagged
list; the ~20s/group JVM+warmup overhead is excluded from timings. Note
for cross-round comparison: BENCH_r10 is the first artifact measured this
way — carry-over rows are expected to land at (or below) their isolated-
rerun levels, not at BENCH_r09's session-aged levels.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

GROUP_SIZE = 6


def _order_for_grouping(names: list[str], prev_cost: dict[str, float]) -> list[str]:
    """Group order: previous-round cost DESCENDING, name as the tie-break.

    Heavy rows share fresh-session groups with each other, so a new heavy
    query shifts composition for at most its own cost tier (alphabetical
    chunking twice put new heavy rows next to unrelated cheap ones and aged
    those groups' sessions — SCALE_PROBE.md r8-r10 and r12 receipts).
    Unknown-cost (new) names rank 0 and land together at the tail."""
    return sorted(names, key=lambda n: (-prev_cost.get(n, 0.0), n))


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


def _group_main(names: list[str]) -> None:
    """Child mode: time the given queries in a fresh session, print one JSON
    line {"trials": {...}, "cold": {...}, "reruns": {...}} and exit. The
    min-of-3 + disagreement-rerun logic lives HERE because trials must share
    one (young) session to measure warm steady-state."""
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-group")
    _warm(spark, sf_dir, names)

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

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
            dt = run_once(name)
            if pass_no == 0:
                cold[name] = dt
            trials[name].append(dt)

    # Noise robustness (round-3 lesson: min-of-2 on a busy box published a
    # phantom 22% regression): targeted re-run for any query whose warm
    # passes disagree by >1.5x — a contamination signal that fires equally
    # for fast and slow queries. Deliberately NOT re-running on "slower
    # than last round" (r4 advice): that trigger granted extra min draws
    # only to regressed-looking queries, letting a real regression min-shop
    # itself away.
    reruns: dict[str, int] = {}
    for name in names:
        for _ in range(2):  # at most 2 extra trials per suspicious query
            # Spread over the TWO FASTEST warm trials: one contaminated
            # outlier doesn't poison the signal forever (max/min over all
            # trials is monotonically non-decreasing, so re-runs could
            # never clear it) — two independent fast runs agreeing is the
            # "steady state reached" witness.
            w1, w2 = sorted(trials[name][1:])[:2]
            if not (w1 > 0 and w2 / w1 > 1.5):
                break
            trials[name].append(run_once(name))
            reruns[name] = reruns.get(name, 0) + 1
    print(json.dumps({"trials": trials, "cold": cold, "reruns": reruns}))
    spark.stop()


_STREAM_ROWS = ("streaming_tumbling_drain", "streaming_ingest_drain")


def _stream_solo_main(name: str) -> None:
    """Child mode for isolated adjudication of a STREAMING bench row (the
    drains run in the parent session, not through --group, so their solo
    rerun needs its own fresh-JVM entry point)."""
    from hadoop_word_score_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-solo-stream")
    fn = _streaming_smoke if name == "streaming_tumbling_drain" else _ingest_smoke
    dt = fn(spark, sf_dir)
    print(json.dumps({"trials": {name: [dt]}, "cold": {name: dt}, "reruns": {}}))
    spark.stop()


def _run_isolated(name: str) -> dict:
    """Fresh solo subprocess for one flagged row (regression adjudication)."""
    if name in _STREAM_ROWS:
        argv = [sys.executable, os.path.abspath(__file__), "--solo-stream", name]
    else:
        argv = [sys.executable, os.path.abspath(__file__), "--group", name]
    # bounded: a wedged child JVM must not stall the whole bench at the
    # adjudication step after all timing work is done (r14 advice) — the
    # TimeoutExpired lands in _adjudicate_regressions' per-row try/except
    # as a "rerun-failed" verdict
    proc = subprocess.run(
        argv, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        timeout=900,
    )
    res = _parse_group_stdout(proc.stdout)
    if res is not None:
        return res
    raise RuntimeError(
        f"isolated rerun of {name} produced no result JSON "
        f"(rc={proc.returncode}):\n{proc.stderr[-2000:]}"
    )


def _adjudicate_regressions(
    regressions: dict[str, float],
    timings: dict[str, float],
    prev: dict[str, float],
    run=None,
    impl_changed: dict[str, bool] | None = None,
) -> dict[str, dict]:
    """Auto-adjudication (r13 verdict #2: three vs-prev flags shipped
    unadjudicated and the judge had to rerun them by hand — all three were
    session interference). Every flagged row gets one fresh SOLO subprocess
    rerun; both numbers land in the artifact so a flag never leaves a round
    without its isolated counterpart. The grouped number stays the
    published timing (the isolated rerun is evidence, not a min-shopping
    draw — r4 advice still applies). ``run`` is injectable for tests.

    ``impl_changed`` (r15): per-row flag that the query's IMPLEMENTATION
    fingerprint differs from the one the previous round benched — a slow
    row whose code changed is a different workload, not a regression of
    the same one, so a confirmed slowdown there gets the distinct
    "changed-workload" verdict (e.g. a funnel that gained a stage). The
    isolated rerun still runs and both numbers still land."""
    run = run or _run_isolated
    isolated: dict[str, dict] = {}
    for n in sorted(regressions):
        changed = bool((impl_changed or {}).get(n))
        # a failed solo rerun (transient OOM, killed child) must not
        # abort the whole bench after all timing work is done (r14
        # review) — record the failure as this row's verdict instead
        try:
            solo = run(n)
            iso = min(solo["trials"][n])
        except Exception as e:
            isolated[n] = {
                "grouped_sec": timings[n],
                "prev_sec": round(prev[n], 3),
                "verdict": "rerun-failed",
                "impl_changed_since_prev": changed,
                "error": str(e)[-500:],
            }
            continue
        if iso <= 1.5 * prev[n]:
            verdict = "recovered-isolated"
        elif changed:
            verdict = "changed-workload"
        else:
            verdict = "confirmed-regression"
        isolated[n] = {
            "grouped_sec": timings[n],
            "isolated_sec": round(iso, 3),
            "prev_sec": round(prev[n], 3),
            "isolated_ratio": round(iso / prev[n], 2),
            "verdict": verdict,
            "impl_changed_since_prev": changed,
        }
    return isolated


# The import-names group has two alternatives: a parenthesized list (which
# may SPAN LINES — "[^)]*" matches newlines, so "from ..pkg import (\n a,\n
# b)" captures every name; a to-end-of-line match captured just "(" and
# silently dropped all submodules from the fingerprint, r7 ADVICE), or the
# plain to-end-of-line form.
_REL_IMPORT_RE = re.compile(
    r"^\s*from\s+(\.+)([\w.]*)\s+import\s+(\([^)]*\)|[^\n]+)", re.M
)
_PKG_ROOT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "hadoop_word_score_spark"
)


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


def _impl_fp_state(names: list[str]) -> tuple[dict[str, str], dict[str, bool]]:
    """(current per-row implementation fingerprints, per-row changed flags
    vs the PREVIOUS bench run). The fps persist in BENCH_LOCAL.json so the
    next run compares directly; a row with no recorded fp is unknowable,
    recorded as unchanged rather than guessed."""
    from hadoop_word_score_spark.plans.queries import REGISTRY

    cur = {n: _impl_fp(REGISTRY[n].fn) for n in names if n in REGISTRY}
    prev_fps: dict[str, str] = {}
    try:
        with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )) as f:
            prev_fps = json.load(f).get("impl_fps", {})
    except (OSError, ValueError):
        pass
    changed = {n: prev_fps.get(n) not in (None, fp) for n, fp in cur.items()}
    return cur, changed


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
        cwd=os.path.dirname(os.path.abspath(__file__)),
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
    if "--solo-stream" in sys.argv:
        _stream_solo_main(sys.argv[sys.argv.index("--solo-stream") + 1])
        return

    from hadoop_word_score_spark.plans.queries import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [n for n, s in REGISTRY.items() if s.bench]

    # Deterministic COST-AWARE grouping (r13, after the r12 regression
    # cluster) — see _order_for_grouping. Still deterministic given the
    # committed BENCH artifacts, and the membership hash below continues to
    # flag any set change.
    prev = _previous_round_timings(sf_of(sf_dir))
    ordered = _order_for_grouping(names, prev)
    groups = [ordered[i : i + GROUP_SIZE] for i in range(0, len(ordered), GROUP_SIZE)]
    trials: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    reruns: dict[str, int] = {}
    for g in groups:  # sequential — parallel groups would contend for CPUs
        res = _run_group(g)
        trials.update(res["trials"])
        cold.update(res["cold"])
        reruns.update(res["reruns"])
    timings = {n: min(ts) for n, ts in trials.items()}

    # Streaming rows run in the parent's own (otherwise idle) session — their
    # checkpoints are fresh per trial and the session has run nothing else.
    from hadoop_word_score_spark.session import get_spark

    spark = get_spark("bench")
    timings["streaming_tumbling_drain"] = _streaming_smoke(spark, sf_dir)
    trials["streaming_tumbling_drain"] = [timings["streaming_tumbling_drain"]]
    names.append("streaming_tumbling_drain")

    timings["streaming_ingest_drain"] = _ingest_smoke(spark, sf_dir)
    trials["streaming_ingest_drain"] = [timings["streaming_ingest_drain"]]
    names.append("streaming_ingest_drain")

    import statistics

    warm_median = {
        n: round(statistics.median(ts[1:] or ts), 3) for n, ts in trials.items()
    }
    # `prev` from the grouping step above: the artifacts it reads are
    # committed files, unchanged by this run
    regressions = {
        n: round(timings[n] / prev[n], 2)
        for n in names
        if prev.get(n, 0) > 0 and timings[n] > 1.5 * prev[n]
    }

    impl_fps, impl_changed = _impl_fp_state(names)
    isolated = _adjudicate_regressions(
        regressions, timings, prev, impl_changed=impl_changed
    )

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
                      "groups": len(groups), "grouping": "cost-desc"},
        "sf": sf_of(sf_dir),
    }
    if reruns:
        out["noise_reruns"] = reruns
    if regressions:
        out["vs_prev_regressions"] = regressions
        out["vs_prev_isolated"] = isolated

    # Full per-row artifact committed in-repo (r10 verdict: the driver's
    # BENCH_r*.json keeps only a 2,000-char stdout tail, which truncated 8
    # of 38 per-row timings and blocked the cross-round audit). Every trial
    # is recorded, not just the published min/median, so a disputed row can
    # be re-examined without a rerun.
    local = dict(out)
    local["trials"] = trials
    local["impl_fps"] = impl_fps
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LOCAL.json"), "w"
    ) as f:
        json.dump(local, f, indent=1, sort_keys=True)

    print(json.dumps(out))
    spark.stop()


def _streaming_smoke(spark, sf_dir: str) -> float:
    """Min-of-2 wall time to drain the sf events through the streaming path.

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

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench_stream"
    )
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
        best = None
        for i in range(2):
            ckpt = os.path.join(scratch, f"ckpt{i}")
            t0 = time.perf_counter()
            q = (
                tumbling_counts_stream(read_events_stream(spark, src))
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            dt = round(time.perf_counter() - t0, 3)
            best = dt if best is None else min(best, dt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(scratch, ignore_errors=True)
    return best


def _ingest_smoke(spark, sf_dir: str) -> float:
    """Min-of-2 wall time to ingest the sf documents in two arrival batches
    through the dedup-on-ingest sink. Fresh target per trial — a reused one
    would replay-skip both batches and time nothing. Timed per trial:
    2 × (sign batch + within-batch LSH pairs) + 1 × (persisted-index probe
    + verify join) + 2 snapshot commits."""
    import shutil

    from pyspark.sql import functions as F

    from hadoop_word_score_spark.sources.registry import load_table
    from hadoop_word_score_spark.streaming.ingest import dedup_ingest_sink

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench_ingest"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.count() // 2  # testdata doc_ids are contiguous from 0
    b0 = docs.filter(F.col("doc_id") < mid)
    b1 = docs.filter(F.col("doc_id") >= mid)
    try:
        best = None
        for i in range(2):
            target = os.path.join(scratch, f"t{i}")
            t0 = time.perf_counter()
            sink = dedup_ingest_sink(target)
            sink(b0, 0)
            sink(b1, 1)
            dt = round(time.perf_counter() - t0, 3)
            best = dt if best is None else min(best, dt)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return best


def _previous_round_timings(sf: float, here: str | None = None) -> dict[str, float]:
    """Per-query timings from the latest BENCH_r*.json at the SAME scale
    factor (else {} — comparing across SFs would mislabel every query as a
    regression or mask real ones). The driver's artifact sometimes carries
    bench's JSON line pre-parsed under "parsed" and sometimes only as the
    raw "tail" text — try both. Rows the driver's 2,000-char tail
    truncated away are backfilled from the committed BENCH_LOCAL.json
    (written by the previous run, so at read time it still holds that
    run's full per-row record); driver rows win where both exist. Caveat:
    on a SECOND bench run within one round, the backfill serves the first
    same-round run's numbers for the truncated rows — a vs-prev ratio of
    ~1.0 there means "unchanged since the last run", not "unchanged since
    last round" (the driver runs bench once per round, so its artifact is
    unaffected)."""
    import glob

    here = here or os.path.dirname(os.path.abspath(__file__))

    def rows_of(rec) -> dict[str, float]:
        if not isinstance(rec, dict) or rec.get("sf") != sf:
            return {}
        return {k: float(v) for k, v in rec.get("queries", {}).items()}

    local: dict[str, float] = {}
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json")) as f:
            local = rows_of(json.load(f))
    except Exception:
        pass

    files = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    driver: dict[str, float] = {}
    if files:
        try:
            with open(files[-1]) as f:
                rec = json.load(f)
            parsed = rec.get("parsed") if isinstance(rec, dict) else None
            if parsed is None and isinstance(rec, dict) and "tail" in rec:
                tail = rec["tail"]
                i = tail.find('{"metric"')
                if i >= 0:
                    try:
                        parsed = json.loads(tail[i:].splitlines()[0])
                    except (json.JSONDecodeError, ValueError):
                        parsed = None
            driver = rows_of(parsed if parsed is not None else rec)
        except Exception:
            driver = {}
    return {**local, **driver}


if __name__ == "__main__":
    main()
