"""SparkSession bootstrap with scale-oriented defaults.

The reference engine hand-tuned its runtime in its Dockerfile (4 map / 4
reduce local slots, 15% shuffle buffer — ``/root/reference/Dockerfile:36-53``).
Here the equivalent knobs are session confs, and the heavy lifting (partial
aggregation, partition coalescing, skew handling, broadcast selection) is
delegated to Catalyst + AQE, which re-plans at runtime from observed stage
statistics — the behaviour you want on a 1000-executor cluster, and a no-op
cost locally.
"""

from __future__ import annotations

import os
import warnings

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Defaults chosen for the local[cpus] test harness; on a real cluster the same
# confs apply but shuffle partitions should scale with total cores (AQE
# coalesces the excess, so over-provisioning the initial number is the safe
# direction at 100 TB).
SCALE_CONFS: dict[str, str] = {
    # AQE: runtime partition coalescing, skew-join splitting, and
    # broadcast-join conversion from observed sizes. Core of the 100 TB story.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Pre-AQE shuffle width. On a cluster: ~2-3x total executor cores.
    "spark.sql.shuffle.partitions": "64",
    # Split large files into ≤128 MiB scan tasks so a 100 TB scan parallelises.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Dims ≤ 32 MiB are broadcast (region/nation/supplier at any SF;
    # AQE upgrades larger joins when runtime stats allow).
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Arrow for any pandas-UDF path (the sanctioned Python escape hatch).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for oracle comparison (FIXTURES.md §3).
    "spark.sql.session.timeZone": "UTC",
}


# Builder-time-only confs (immutable once the JVM is up). In local mode the
# "driver" hosts every broadcast + all executor threads: the 1g default OOMs
# the first time AQE legitimately broadcasts a few-hundred-MB build side.
# On a real cluster the deployer sizes these per node; 8g is right for
# local[32] on this 128 GiB box.
STARTUP_CONFS: dict[str, str] = {
    "spark.driver.memory": "8g",
    "spark.driver.maxResultSize": "2g",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def get_spark(
    app_name: str = "hadoop-word-score-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults applied.

    ``extra_confs`` are user overrides (the CLI's ``-D k=v`` generic options,
    ToolRunner parity — ComputeWordScore.java:144,221-223); they are applied
    LAST so they win over the engine defaults, at builder time so even
    static confs take effect when this call creates the session.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{default_parallelism()}]")
    for k, v in {**STARTUP_CONFS, **SCALE_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose builder confs
    # were ignored — re-apply runtime-settable overrides on the live session.
    for k, v in (extra_confs or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable post-start — builder path already tried
            pass
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release(pin: DataFrame) -> None:
    """Free a ``localCheckpoint`` pin's blocks now, not at JVM GC. PySpark
    has no public call for this (the RDD lives in the pin's ``LogicalRDD``
    plan node), so this is the package's one ``_jdf`` storage call. Spark
    logs one WARN per release: the pin can no longer be recomputed."""
    pin._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    done: Callable[[DataFrame], bool],
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Iterate ``state = pin(step(state))`` until ``done(state)``; return the
    last pin. ``state`` must be a ``localCheckpoint`` pin, which this takes
    over. Each round pins lazily, so lineage stays one round deep; ``done``,
    a full aggregate over the new pin, materialises it, and only then is the
    previous pin released. After ``max_rounds`` rounds without ``done``, a
    ``RuntimeWarning`` says so and the last round's state is returned.
    """
    for _ in range(max_rounds):
        pin = step(state).localCheckpoint(eager=False)
        finished = done(pin)
        release(state)
        state = pin
        if finished:
            return state
    warnings.warn(
        f"{what} did not reach a fixpoint within max_rounds={max_rounds}: the "
        "result is the last round's state; raise the bound (each round is one "
        "bounded shuffle pass)",
        RuntimeWarning,
        stacklevel=3,
    )
    return state


def overlap_jobs(spark: SparkSession, background, foreground):
    """Run two INDEPENDENT Spark job chains concurrently (guide §2.6: a
    later job's tasks back-fill executors freed by the earlier job's
    stragglers); returns ``(foreground_result, background_result)`` after
    BOTH complete.

    Robustness (ADVICE r16):

    - ``inheritable_thread_target(session)`` only returns a decorator under
      the pinned-thread (ClientServer) gateway; with
      ``PYSPARK_PIN_THREAD=false`` it returns its argument — the session —
      unchanged, and calling that raises ``TypeError``. Fall back to the
      bare callable there: only UI labels/tags are lost, never the job.
    - If the FOREGROUND chain fails, the background one's exception must
      not be silently dropped by executor shutdown — it is attached at the
      tail of the foreground error's ``__context__`` chain (a foreground
      error raised inside an ``except`` block already has a context) so
      both surface in the traceback.
    - The background chain's jobs carry a job tag, and a foreground
      failure cancels them before waiting: without it the real error
      surfaced only after the now-useless background work (a corpus-sized
      index write) ran to completion. The cancel repeats until the chain
      returns, so a job it starts after the failure is cancelled too.
    """
    import uuid
    from concurrent.futures import ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target

    sc = spark.sparkContext
    tag = f"overlap-jobs-{uuid.uuid4().hex}"

    def tagged():
        sc.addJobTag(tag)
        try:
            return background()
        finally:
            sc.removeJobTag(tag)

    deco = inheritable_thread_target(spark)
    target = deco(tagged) if callable(deco) else tagged
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(target)
        try:
            fg = foreground()
        except BaseException as e:
            sc.cancelJobsWithTag(tag)
            while not wait([fut], timeout=0.5).done:
                sc.cancelJobsWithTag(tag)
            bg_err = fut.exception()  # never masks the real cause
            tail, seen = e, {id(e)}
            while tail.__context__ is not None and id(tail.__context__) not in seen:
                tail = tail.__context__
                seen.add(id(tail))
            if bg_err is not None and id(bg_err) not in seen:
                tail.__context__ = bg_err
            raise
        return fg, fut.result()


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally-built session.

    Used by ``__spark_entry__.entry``: the driver owns the session; we only set
    confs that are legal to change post-start (all of SCALE_CONFS are SQL confs).
    """
    for k, v in SCALE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on this build — keep the driver's value
            pass
    return spark
