"""Per-layer counters for the traced run, read from Spark's status stores.

After each traced iteration the collector drains the listener bus and walks
what the iteration created:

- SQL executions (``SQLAppStatusStore.executionsList`` / ``planGraph`` /
  ``executionMetrics``): per-operator metrics, keyed by plan node name;
- jobs and their stages (``AppStatusStore.jobsList`` / ``stageData``): task
  time, shuffle, input and output totals, exact to the byte;
- RDD storage (``SparkContext.getRDDStorageInfo``): pins still held;
- ``StreamingQuery.recentProgress``, kept by the workload: micro-batch
  durations.

Operator metrics come from the store as display strings ("1.2 s",
"64.2 MiB", "4,800"); they are parsed back to numbers at the precision
Spark prints them. Everything measured is written to a JSON trace file.
"""

from __future__ import annotations

import re
import statistics
import time

OBSERVABILITY_CONFS = {"spark.ui.showConsoleProgress": "false"}

# The status store evicts old executions, jobs and stages past these limits
# (defaults 1000); a traced run keeps everything it creates.
RETENTION_CONFS = {
    "spark.sql.ui.retainedExecutions": "1000000",
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}

PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def observability_confs(trace: int) -> dict[str, str]:
    return {**OBSERVABILITY_CONFS, **(RETENTION_CONFS if trace else {})}


def parse_metric(text: str | None, pick: str = "total") -> float:
    """A status-store metric string as a number: bytes, seconds or a count.

    Multi-task metrics read "total (min, med, max (stageId: taskId))" on
    the first line and the values on the second; ``pick="max"`` returns
    the per-task maximum instead of the total.
    """
    if not text:
        return 0.0
    vals = _VALUE.findall(text.split("\n")[-1])
    if not vals:
        return 0.0
    num, unit = vals[3] if pick == "max" and len(vals) >= 4 else vals[0]
    return float(num.replace(",", "")) * _UNITS.get(unit or "", 1.0)


class Jobs:
    """Wall times of the Spark jobs an iteration ran, from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.app = self.sc.statusStore()

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def last(self) -> int:
        """The newest job's id, once every event so far is in the store."""
        self._drain()
        jobs = self.app.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def seconds_since(self, last: int) -> list[float]:
        """Submission-to-completion seconds of each job after ``last``,
        oldest first."""
        self._drain()
        out = []
        seq = self.app.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= last:
                break
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                out.append((j.completionTime().get().getTime() - j.submissionTime().get().getTime()) / 1000)
        return out[::-1]


class Collector(Jobs):
    def __init__(self, spark, spans):
        super().__init__(spark)
        self.spark, self.spans = spark, spans
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def _pinned(self) -> dict[int, int]:
        return {r.id(): r.memSize() + r.diskSize()
                for r in self.sc.getRDDStorageInfo() if r.numCachedPartitions() > 0}

    def mark(self) -> dict:
        return {"job": self.last(), "executions": self.sql.executionsCount(),
                "pinned": set(self._pinned())}

    def _executions(self, mark: dict) -> list:
        """Every SQL execution since ``mark``, each completed. Fails loudly if
        the store evicted one: the counters would silently undercount."""
        deadline = time.time() + 10
        while True:
            self._drain()
            n = self.sql.executionsCount() - mark["executions"]
            seq = self.sql.executionsList(mark["executions"], n)
            execs = [seq.apply(i) for i in range(seq.size())]
            ids = [e.executionId() for e in execs]
            if len(execs) != n or (ids and ids[-1] - ids[0] + 1 != n):
                raise RuntimeError(
                    f"status store is missing executions of this iteration (have {len(ids)}, "
                    f"ids {ids[:1]}..{ids[-1:]}); raise spark.sql.ui.retainedExecutions")
            if all(e.completionTime().isDefined() for e in execs) or time.time() > deadline:
                return execs
            time.sleep(0.05)

    def _stages(self, mark: dict) -> tuple[int, list]:
        jobs, stage_ids = 0, set()
        seq = self.app.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= mark["job"]:
                break
            jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        stages = []
        for sid in sorted(stage_ids):
            attempts = self.app.stageData(sid, False, None, False, self.no_quantiles)
            stages += [attempts.apply(k) for k in range(attempts.size())]
        return jobs, [s for s in stages if s.status().toString() != "SKIPPED"]

    def _nodes(self, execs: list) -> list[dict]:
        """Every plan node of the executions, with parsed metrics, its
        children and its whole-stage-codegen cluster."""
        out = []
        for e in execs:
            eid = e.executionId()
            graph, values = self.sql.planGraph(eid), self.sql.executionMetrics(eid)
            cluster_of = {}
            top = graph.nodes()
            for i in range(top.size()):
                n = top.apply(i)
                if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                    inner = n.nodes()
                    for k in range(inner.size()):
                        cluster_of[(eid, inner.apply(k).id())] = (eid, n.id())
            edges = graph.edges()
            children: dict[int, list[int]] = {}
            for i in range(edges.size()):
                ed = edges.apply(i)
                children.setdefault(ed.toId(), []).append(ed.fromId())
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                n = nodes.apply(i)
                metrics = {}
                ms = n.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = v.get() if v.isDefined() else None
                out.append({"key": (eid, n.id()), "name": n.name(), "desc": n.desc(),
                            "metrics": metrics, "children": [(eid, c) for c in children.get(n.id(), [])],
                            "cluster": cluster_of.get((eid, n.id()))})
        return out

    def layers(self, mark: dict, since: int, res, job_s: float) -> dict:
        """The per-layer record of one traced iteration (raw numbers)."""
        t0 = time.time()
        execs = self._executions(mark)
        jobs, stages = self._stages(mark)
        nodes = self._nodes(execs)
        pinned = self._pinned()
        spans = self.spans.records[since:]
        it = next(r for r in spans if r["name"] == "iteration")
        rec = {"job_s": job_s}
        rec.update(_span_layers(spans))
        rec.update(_driver_layers(execs, jobs, stages, it))
        rec.update(_task_layers(stages, job_s, self.spark.sparkContext.defaultParallelism))
        rec.update(_operator_layers(nodes, stages))
        rec.update(_funnel_layers(nodes, res))
        rec.update(_streaming_layers(res.progress))
        new_pins = {i: b for i, b in pinned.items() if i not in mark["pinned"]}
        rec["pins.count"] = len(new_pins)
        rec["pins.retained_bytes"] = sum(new_pins.values())
        rec["trace.collect_s"] = time.time() - t0
        return rec


SPAN_NAMES = [
    "sources.reviews.read_reviews_jsonl",
    "operators.wordscore.word_score",
    "operators.wordscore.write_word_scores",
    "streaming.query.drain",
    "streaming.ingest.dedup_ingest_sink",
    "streaming.ingest.read_ingested",
    "operators.similarity.persist_ivf_index",
    "operators.similarity.ivf_probe_topk",
    "operators.similarity.ivf_probe_topk.collect",
]


def _span_layers(spans: list) -> dict:
    out = {f"{n}.s": 0.0 for n in SPAN_NAMES}
    for r in spans:
        if f"{r['name']}.s" in out:
            out[f"{r['name']}.s"] += r["end"] - r["start"]
    return out


def _driver_layers(execs: list, jobs: int, stages: list, it: dict) -> dict:
    """SQL execution, job, stage and task counts, and the iteration's wall
    time that no SQL execution covers (driver-side work between actions)."""
    lo, hi = it["start"] * 1000, it["end"] * 1000
    spans = sorted((max(lo, e.submissionTime()), min(hi, e.completionTime().get().getTime()))
                   for e in execs if e.completionTime().isDefined())
    covered, end = 0.0, lo
    for s, t in spans:
        s = max(s, end)
        if t > s:
            covered += t - s
            end = t
    return {
        "driver.outside_sql_s": max(0.0, (hi - lo - covered) / 1000),
        "driver.sql_executions": len(execs),
        "driver.jobs": jobs,
        "driver.stages": len(stages),
        "driver.tasks": sum(s.numCompleteTasks() for s in stages),
    }


def _task_layers(stages: list, job_s: float, cores: int) -> dict:
    run_s = sum(s.executorRunTime() for s in stages) / 1000
    return {
        "tasks.run_s": run_s,
        "tasks.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
        "tasks.gc_s": sum(s.jvmGcTime() for s in stages) / 1000,
        "tasks.busy_share": run_s / (job_s * cores) if job_s else 0.0,
    }


def _sum(nodes: list, metric: str, pick: str = "total") -> float:
    return sum(parse_metric(n["metrics"].get(metric), pick) for n in nodes)


def _operator_layers(nodes: list, stages: list) -> dict:
    by_key = {n["key"]: n for n in nodes}
    scans = [n for n in nodes if n["name"].startswith("Scan ") and n["name"] != "Scan ExistingRDD"]
    aggs = [n for n in nodes if n["name"].endswith("Aggregate")]
    sorts = [n for n in nodes if n["name"] == "Sort"]
    writes = [n for n in nodes if n["name"].startswith("Execute InsertInto")]
    python = [n for n in nodes if PYTHON_NODE.search(n["name"])]

    # Row-based scans (JSON) report no scan time: their share is the
    # duration of the codegen stage they run in, less the aggregation build
    # fused into that stage.
    parent_of = {c: n for n in nodes for c in n["children"]}
    scan_s = 0.0
    for n in scans:
        if "scan time" in n["metrics"]:
            scan_s += parse_metric(n["metrics"]["scan time"])
            continue
        # a row-based scan feeds the codegen stage of its parent
        cluster = n["cluster"] or parent_of.get(n["key"], {}).get("cluster")
        if cluster in by_key:
            fused = [a for a in aggs if a["cluster"] == cluster]
            scan_s += parse_metric(by_key[cluster]["metrics"].get("duration")) - _sum(
                fused, "time in aggregation build")

    def rows_in(n: dict) -> float:
        """Rows entering ``n``: output rows of its nearest counted descendant."""
        todo = list(n["children"])
        while todo:
            c = by_key.get(todo.pop(0))
            if c is None:
                continue
            for m in ("number of output rows", "records read"):
                if m in c["metrics"]:
                    return parse_metric(c["metrics"][m])
            todo += c["children"]
        return 0.0

    return {
        "sources.scan_s": max(0.0, scan_s),
        "sources.rows_read": _sum(scans, "number of output rows"),
        "sources.bytes_read": float(sum(s.inputBytes() for s in stages)),
        "sources.files_read": _sum(scans, "number of files read"),
        "agg.build_s": _sum(aggs, "time in aggregation build"),
        "agg.peak_mem_mb": max([parse_metric(a["metrics"].get("peak memory"), "max") for a in aggs],
                               default=0.0) / (1 << 20),
        "exchange.shuffle_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
        "exchange.shuffle_records": float(sum(s.shuffleWriteRecords() for s in stages)),
        "exchange.fetch_wait_s": sum(s.shuffleFetchWaitTime() for s in stages) / 1000,
        "sort.s": _sum(sorts, "sort time"),
        "spill_bytes": float(sum(s.diskBytesSpilled() for s in stages)),
        "sinks.write_s": _sum(writes, "task commit time"),
        "sinks.job_commit_s": _sum(writes, "job commit time"),
        "sinks.files_written": _sum(writes, "number of written files"),
        "sinks.bytes_written": float(sum(s.outputBytes() for s in stages)),
        "arrow.rows_sent": sum(rows_in(n) for n in python),
        "arrow.bytes_sent": _sum(python, "data sent to Python workers"),
        "arrow.bytes_returned": _sum(python, "data returned from Python workers"),
        "arrow.python_s": _sum(python, "time to run Python workers"),
        "arrow.worker_boot_s": _sum(python, "time to start Python workers"),
        "arrow.worker_init_s": _sum(python, "time to initialize Python workers"),
    }


_PAIR_KEYS = re.compile(r"HashAggregate\(keys=\[(id_a|new_id)#\d+L?, (id_b|base_id)#\d+L?\], functions=\[\]\)")


def _funnel_layers(nodes: list, res) -> dict:
    """Counters of the dedup and IVF operators, read off their plan nodes.

    Dedup: candidate pairs are the rows out of the final distinct-pair
    aggregate (the one feeding a join); verified pairs are the rows out of
    the join whose condition computes the exact Jaccard. IVF probe: the
    pruned index scan's partitions, and the rows its scoring UDF receives.
    """
    by_key = {n["key"]: n for n in nodes}
    parent_of = {c: n for n in nodes for c in n["children"]}
    candidates = sum(
        parse_metric(n["metrics"].get("number of output rows")) for n in nodes
        if _PAIR_KEYS.match(n["desc"]) and "Join" in parent_of.get(n["key"], {}).get("name", ""))
    verified = sum(
        parse_metric(n["metrics"].get("number of output rows")) for n in nodes
        if "Join" in n["name"] and "array_intersect" in n["desc"])

    written_cells = _sum([n for n in nodes if "index" in n["desc"] and n["name"].startswith("Execute InsertInto")],
                         "number of dynamic part")
    scorers = [n for n in nodes if n["name"] == "MapInPandas" and " score(" in n["desc"]]
    probe_scans = []
    for s in scorers:
        todo = list(s["children"])
        while todo:
            c = by_key.get(todo.pop(0))
            if c is None:
                continue
            if c["name"].startswith("Scan parquet"):
                probe_scans.append(c)
            todo += c["children"]
    cells_read = _sum(probe_scans, "number of partitions read")
    scored = _sum(probe_scans, "number of output rows")
    results = res.probe_results if scorers else 0
    index_scans = [n for n in nodes if n["name"].startswith("Scan parquet") and "/index/batch=" in n["desc"]]
    return {
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.verify_yield": verified / candidates if candidates else 0.0,
        "streaming.ingest.index_bytes_read": _sum(index_scans, "size of files read") / max(1, len(res.batch_s)),
        "operators.similarity.cells_read": cells_read,
        "operators.similarity.probe_prune_ratio": (
            1 - cells_read / (written_cells * len(probe_scans)) if written_cells and probe_scans else 0.0),
        "operators.similarity.vectors_scored_per_result": scored / results if results else 0.0,
    }


def _streaming_layers(progress: list) -> dict:
    batches = [p for p in progress if p["numInputRows"] > 0]

    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) / 1000 for p in batches]
        return statistics.median(vals) if vals else 0.0

    return {
        "streaming.add_batch_s": med("addBatch"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.commit_offsets_s": med("commitOffsets"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.batches": float(len(batches)),
    }


def summarize(layers: list, traced_jobs: list, job_s: float) -> dict:
    """Per-layer metrics of a traced run: the median of each counter over
    the traced iterations, and the tracing overhead against the untraced
    median ``job_s``."""
    out = {}
    for key in layers[0] if layers else []:
        if key != "job_s":
            out[key] = statistics.median(r[key] for r in layers)
    traced = statistics.median(traced_jobs) if traced_jobs else 0.0
    out["trace.job_s"] = traced
    out["trace.overhead_s"] = traced - job_s
    return out
