"""The workloads: one iteration each, and the check of its output.

An iteration starts from the generated input files and ends with the
output committed (written, or collected to the driver). Every call into
the package is wrapped in a span named after the public function, so the
traced run can split the iteration into layers. Checks run after the
iteration's timer stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd

import inputs


@dataclass
class Spans:
    """In-memory spans: name, wall-clock start/end (epoch seconds) and the
    index of the enclosing span. Written out when the run ends."""

    records: list = field(default_factory=list)
    _open: list = field(default_factory=list)

    @contextmanager
    def __call__(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._open[-1] if self._open else None}
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()


@dataclass
class Result:
    """What one iteration produced, for its check and its metrics.

    ``batch_s`` holds the time of each arrival batch. A one-shot job leaves
    it empty and the runner fills in the time of the job's first Spark job.
    ``probe_results`` counts the rows the IVF probes returned.
    """

    batch_s: list[float]
    phases: dict = field(default_factory=dict)
    output: object = None
    progress: list = field(default_factory=list)
    probe_results: int = 0


# ---------------------------------------------------------------------------
# wordscore_jsonl: JSONL scan -> word_score -> one sorted TSV file
# ---------------------------------------------------------------------------


def run_wordscore(spark, data: str, truth: dict, out: str, span: Spans, transform=None) -> Result:
    from hadoop_word_score_spark.operators import wordscore
    from hadoop_word_score_spark.sources import reviews

    with span("sources.reviews.read_reviews_jsonl"):
        df = reviews.read_reviews_jsonl(spark, data)
    with span("operators.wordscore.word_score"):
        scores = wordscore.word_score(df)
    if transform is not None:
        scores = transform(scores)
    with span("operators.wordscore.write_word_scores"):
        wordscore.write_word_scores(scores, out)
    return Result(batch_s=[], output=out)


def check_wordscore(res: Result, truth: dict, data: str) -> dict:
    parts = sorted(glob.glob(os.path.join(res.output, "part-*")))
    if len(parts) != 1:
        raise AssertionError(f"expected one output file, got {len(parts)}")
    got = pd.read_csv(parts[0], sep="\t", header=None, names=["score", "word"],
                      dtype={"score": np.int64, "word": str}, keep_default_na=False)
    if not (np.diff(got["score"].to_numpy()) <= 0).all():
        raise AssertionError("scores are not non-increasing")
    want = truth["scores"]
    if len(got) != len(want) or dict(zip(got["word"], got["score"].tolist())) != want:
        raise AssertionError("(score, word) set differs from the ground truth")
    return {}


# ---------------------------------------------------------------------------
# dedup: B arrival batches through dedup_ingest_sink, then read back
# ---------------------------------------------------------------------------


def run_dedup(spark, data: str, truth: dict, out: str, span: Spans) -> Result:
    """The arrival batches stream in one file per micro-batch, through
    ``foreachBatch(dedup_ingest_sink)`` as the sink's docstring shows."""
    from hadoop_word_score_spark.streaming import ingest

    schema = "doc_id long, text string"
    with span("streaming.ingest.dedup_ingest_sink.create"):
        sink = ingest.dedup_ingest_sink(os.path.join(out, "corpus"))

    def each_batch(batch_df, batch_id):
        with span("streaming.ingest.dedup_ingest_sink"):
            sink(batch_df, batch_id)

    with span("streaming.query.drain"):
        q = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(data)
             .writeStream.foreachBatch(each_batch)
             .option("checkpointLocation", os.path.join(out, "checkpoint"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    with span("streaming.ingest.read_ingested"):
        rows = ingest.read_ingested(spark, os.path.join(out, "corpus")).select(
            "doc_id", "quarantined", "matched_id").collect()
    return Result(batch_s=_trigger_s(progress), output=rows,
                  progress=progress)


def _trigger_s(progress: list) -> list[float]:
    """Per micro-batch wall time, for the batches that carried data."""
    return [p["durationMs"]["triggerExecution"] / 1000 for p in progress if p["numInputRows"] > 0]


def check_dedup(res: Result, truth: dict, data: str) -> dict:
    with open(os.path.join(os.path.dirname(data), "texts.json"), encoding="utf-8") as f:
        texts = json.load(f)
    if len(res.output) != truth["rows"]:
        raise AssertionError(f"read back {len(res.output)} docs, want {truth['rows']}")
    quarantined = {}
    for r in res.output:
        if r["quarantined"] != (r["matched_id"] is not None):
            raise AssertionError(f"doc {r['doc_id']}: quarantined flag disagrees with matched_id")
        if r["quarantined"]:
            quarantined[r["doc_id"]] = r["matched_id"]
    verified = 0
    for doc, match in quarantined.items():
        if match >= doc:
            raise AssertionError(f"doc {doc} matched a later arrival {match}")
        if inputs.jaccard(inputs.shingles(texts[doc]), inputs.shingles(texts[match])) >= 0.5:
            verified += 1
    planted = {d for d, _, _ in truth["planted"]}
    found = len(planted & quarantined.keys())
    if verified != len(quarantined):
        raise AssertionError(f"{len(quarantined) - verified} matches below Jaccard 0.5")
    if found != len(planted):
        raise AssertionError(f"{len(planted) - found} planted duplicates not quarantined")
    return {
        "dedup_recall": found / len(planted),
        "dedup_precision": verified / max(1, len(quarantined)),
        "streaming.ingest.quarantined": len(quarantined),
    }


# ---------------------------------------------------------------------------
# ann: persist_ivf_index, then one ivf_probe_topk call for every query
# ---------------------------------------------------------------------------

ANN_CELLS = 64  # about the square root of the corpus size
ANN_PROBE = 4


def run_ann(spark, data: str, truth: dict, out: str, span: Spans) -> Result:
    from hadoop_word_score_spark.operators import similarity

    corpus = spark.read.parquet(os.path.join(data, "corpus.parquet"))
    queries = spark.read.parquet(os.path.join(data, "queries.parquet"))
    with span("operators.similarity.persist_ivf_index") as b:
        similarity.persist_ivf_index(corpus, out, n_cells=ANN_CELLS)
    t = time.time()
    with span("operators.similarity.ivf_probe_topk"):
        top = similarity.ivf_probe_topk(spark, out, queries, k=inputs.ANN_K, n_probe=ANN_PROBE)
    with span("operators.similarity.ivf_probe_topk.collect"):
        rows = top.collect()
    probe_s = time.time() - t
    return Result(batch_s=[], output=rows, probe_results=len(rows),
                  phases={"index_build_s": b["end"] - b["start"], "probe_s": probe_s})


def check_ann(res: Result, truth: dict, data: str) -> dict:
    ids, corpus, qids, qv = inputs.load_ann(data)
    by_q: dict[int, list] = {}
    for r in res.output:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    if set(by_q) != {int(q) for q in qids}:
        raise AssertionError("probe output does not cover every query")
    qpos = {int(q): i for i, q in enumerate(qids)}
    cnorm = np.linalg.norm(corpus.astype(np.float64), axis=1)
    hits = 0
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        if [r["rank"] for r in rs] != list(range(1, inputs.ANN_K + 1)):
            raise AssertionError(f"query {q}: ranks are not 1..{inputs.ANN_K}")
        sims = [r["cosine_sim"] for r in rs]
        if sims != sorted(sims, reverse=True):
            raise AssertionError(f"query {q}: similarities not descending")
        v = qv[qpos[q]].astype(np.float64)
        cand = np.array([int(r["cand_id"]) for r in rs])
        exact = corpus[cand].astype(np.float64) @ v / (cnorm[cand] * np.linalg.norm(v))
        if np.abs(exact - np.array(sims)).max() > 2e-6:
            raise AssertionError(f"query {q}: reported cosine differs from the exact value")
        hits += len(set(cand.tolist()) & set(truth["topk"][str(q)]))
    recall = hits / (inputs.ANN_K * len(by_q))
    if recall < 0.9:
        raise AssertionError(f"recall@10 {recall:.3f} below 0.9")
    return {"ann_recall_at_10": recall}


# ---------------------------------------------------------------------------
# dedup_ann: the dedup arrivals, then the IVF build and probes
# ---------------------------------------------------------------------------


def run_dedup_ann(spark, data: str, truth: dict, out: str, span: Spans) -> Result:
    """One iteration of each; its arrival batches are the dedup micro-batches."""
    d = run_dedup(spark, os.path.join(data, "docs"), truth["docs"], os.path.join(out, "docs"), span)
    a = run_ann(spark, os.path.join(data, "vectors"), truth["vectors"], os.path.join(out, "vectors"), span)
    return Result(batch_s=d.batch_s, phases=a.phases, output=(d.output, a.output),
                  progress=d.progress, probe_results=a.probe_results)


def check_dedup_ann(res: Result, truth: dict, data: str) -> dict:
    docs, vectors = res.output
    return {**check_dedup(replace(res, output=docs), truth["docs"], os.path.join(data, "docs")),
            **check_ann(replace(res, output=vectors), truth["vectors"], os.path.join(data, "vectors"))}


# Figures a check or a run reports; a workload without them reads 0.
QUALITY = ("dedup_recall", "dedup_precision", "streaming.ingest.quarantined", "ann_recall_at_10")
PHASES = ("index_build_s", "probe_s")


@dataclass(frozen=True)
class Workload:
    name: str
    size: int  # input records
    run: object
    check: object
    warmup: int  # untimed iterations before the timed ones


WORKLOADS = {
    "wordscore_jsonl": Workload("wordscore_jsonl", 100_000, run_wordscore, check_wordscore, warmup=2),
    # 600 documents, then 6,000 vectors
    "dedup_ann": Workload("dedup_ann", inputs.DEDUP_DOCS + 6_000, run_dedup_ann, check_dedup_ann, warmup=1),
}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
