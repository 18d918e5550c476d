"""Self-tests of the benchmark: its counters, its output contract and its
injected-shuffle detection.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root. The traced runs take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import collect  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

SEED = 7
# Counts fixed by the input and the plan: they must repeat exactly.
DETERMINISTIC = [
    "driver.sql_executions", "driver.jobs", "driver.stages", "driver.tasks",
    "exchange.shuffle_records", "arrow.rows_sent",
    "operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
    "operators.dedup.verify_yield", "operators.similarity.cells_read",
    "streaming.batches", "sources.rows_read", "sinks.files_written",
]


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run_bench(workload: str, trace: int, seconds: int = 4, cwd: str = ROOT):
    cmd = [*bench_spec()["command"], "--workload", workload, "--seed", str(SEED),
           "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def parsed(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def traced_runs():
    """Two traced runs of each workload at one seed."""
    out = {}
    for w in bench_spec()["workloads"]:
        out[w["name"]] = [parsed(run_bench(w["name"], 1)) for _ in range(2)]
    return out


def test_parse_metric_reads_status_store_strings():
    assert collect.parse_metric("4,800") == 4800
    assert collect.parse_metric("747 ms") == pytest.approx(0.747)
    assert collect.parse_metric("2.0 s") == 2.0
    multi = "total (min, med, max (stageId: taskId))\n2.5 MiB (1014.5 KiB, 1.5 MiB, 1588.8 KiB (stage 85.0: task 70))"
    assert collect.parse_metric(multi) == 2.5 * (1 << 20)
    assert collect.parse_metric(multi, "max") == 1588.8 * 1024
    assert collect.parse_metric(None) == 0.0


def test_traced_run_prints_every_per_layer_metric(traced_runs):
    names = {m["name"] for m in bench_spec()["per_layer"]}
    for runs in traced_runs.values():
        for _, result in runs:
            assert result["correct"] and result["failed"] == 0
            assert set(result["metrics"]) == names


def test_deterministic_counters_repeat_across_runs(traced_runs):
    for workload, runs in traced_runs.items():
        records = []
        for detail, _ in runs:
            with open(os.path.join(ROOT, detail["trace"]), encoding="utf-8") as f:
                records += json.load(f)["layers"]
        assert len(records) >= 2
        for key in DETERMINISTIC:
            assert len({r[key] for r in records}) == 1, (workload, key, [r[key] for r in records])
        quality = [d["metrics"] for d, _ in runs]
        for key in ("dedup_recall", "dedup_precision", "ann_recall_at_10"):
            assert quality[0][key]["value"] == quality[1][key]["value"], (workload, key)


def test_layer_predictions_hold(traced_runs):
    """The control workload sends nothing across the Python boundary and
    holds no pins; the others exercise the layers they were chosen for."""
    last = {w: runs[-1][1]["metrics"] for w, runs in traced_runs.items()}
    ws = last["wordscore_jsonl"]
    assert ws["arrow.rows_sent"]["value"] == 0
    assert ws["pins.count"]["value"] == 0
    assert ws["exchange.shuffle_records"]["value"] > 0
    da = last["dedup_ann"]
    assert da["arrow.rows_sent"]["value"] > 0 and da["pins.count"]["value"] > 0
    assert da["operators.dedup.candidate_pairs"]["value"] >= da["operators.dedup.verified_pairs"]["value"] > 0
    assert da["streaming.batches"]["value"] == inputs.DEDUP_BATCHES
    assert da["dedup_recall"]["value"] == 1.0
    assert 0 < da["operators.similarity.probe_prune_ratio"]["value"] < 1
    assert da["ann_recall_at_10"]["value"] >= 0.9


def test_untraced_run_prints_every_end_to_end_metric():
    detail, result = parsed(run_bench("wordscore_jsonl", 0))
    spec = bench_spec()["end_to_end"]
    assert result["correct"] and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # the batch is the map-side Spark job, a strict part of the iteration
    assert result["metrics"]["batch_s"]["value"] < result["metrics"]["job_s"]["value"]
    assert detail["metrics"]["ops_failed"]["value"] == 0


def test_fails_without_the_package(tmp_path):
    """A directory holding only the benchmark cannot run it: exit non-zero,
    print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in bench_spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".cache", ".work", ".traces", "__pycache__"))
    proc = run_bench("wordscore_jsonl", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_injected_shuffle_is_caught(tmp_path):
    """An extra repartition after word_score, added from outside the package,
    shows up as exactly one more exchange of every output row."""
    from pyspark.sql import SparkSession

    sys.path.insert(0, ROOT)
    from hadoop_word_score_spark.session import get_spark

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a session with the traced run's confs")
    spark = get_spark("perfbench-selftest", extra_confs=collect.observability_confs(1))
    try:
        data, truth, _ = inputs.prepare(str(tmp_path / "cache"), "wordscore_jsonl", SEED, 20_000)
        spans = workloads.Spans()
        tracer = collect.Collector(spark, spans)

        def traced(name, transform=None):
            mark, since = tracer.mark(), len(spans.records)
            with spans("iteration") as it:
                res = workloads.run_wordscore(spark, data, truth, str(tmp_path / name), spans, transform)
            return tracer.layers(mark, since, res, it["end"] - it["start"])

        plain = traced("plain")
        injected = traced("injected", lambda df: df.repartition(8))
    finally:
        spark.stop()
    extra = injected["exchange.shuffle_records"] - plain["exchange.shuffle_records"]
    assert extra == len(truth["scores"])
    assert injected["driver.stages"] > plain["driver.stages"]
