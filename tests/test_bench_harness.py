"""Protocol tests for bench.py's grouped-subprocess harness (no Spark).

The harness itself is exercised end-to-end by the driver per round; these pin
the pure-Python seams a refactor could silently break: previous-round
artifact parsing (both driver formats), the group partition, the
membership hash input, and the implementation fingerprint's import closure.
"""

from __future__ import annotations

import json

import bench


def test_prev_round_parses_driver_parsed_format(tmp_path):
    rec = {"parsed": {"sf": 0.1, "queries": {"a": 1.5, "b": 0.5}}}
    (tmp_path / "BENCH_r08.json").write_text(json.dumps(rec))
    assert bench._previous_round_timings(0.1, str(tmp_path)) == {"a": 1.5, "b": 0.5}


def test_prev_round_parses_driver_tail_only_format(tmp_path):
    inner = {"metric": "bench_total_sec", "sf": 0.1, "queries": {"q": 2.25}}
    rec = {"parsed": None, "tail": "noise line\n" + json.dumps(inner) + "\n"}
    (tmp_path / "BENCH_r09.json").write_text(json.dumps(rec))
    assert bench._previous_round_timings(0.1, str(tmp_path)) == {"q": 2.25}


def test_prev_round_rejects_other_scale_factor(tmp_path):
    rec = {"parsed": {"sf": 0.01, "queries": {"a": 1.0}}}
    (tmp_path / "BENCH_r09.json").write_text(json.dumps(rec))
    assert bench._previous_round_timings(0.1, str(tmp_path)) == {}


def test_prev_round_latest_file_wins(tmp_path):
    for r, v in [(8, 1.0), (9, 2.0)]:
        (tmp_path / f"BENCH_r0{r}.json").write_text(
            json.dumps({"parsed": {"sf": 0.1, "queries": {"a": v}}})
        )
    assert bench._previous_round_timings(0.1, str(tmp_path)) == {"a": 2.0}


def test_prev_round_backfills_truncated_driver_rows_from_local(tmp_path):
    # r11: the driver tail keeps ~30 rows of 38; BENCH_LOCAL (the previous
    # run's full record) fills the gaps, driver rows winning where both
    # exist, and a wrong-SF local record contributes nothing.
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps({"parsed": {"sf": 0.1, "queries": {"a": 2.0}}})
    )
    (tmp_path / "BENCH_LOCAL.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 9.9, "b": 1.5}})
    )
    assert bench._previous_round_timings(0.1, str(tmp_path)) == {"a": 2.0, "b": 1.5}
    (tmp_path / "BENCH_LOCAL.json").write_text(
        json.dumps({"sf": 0.01, "queries": {"c": 1.0}})
    )
    assert bench._previous_round_timings(0.1, str(tmp_path)) == {"a": 2.0}


def test_group_stdout_parse_skips_stray_json_values():
    # r10 advice: a bare "null"/number/list from logging noise parsed after
    # the result line must not be returned as the group result.
    good = json.dumps({"trials": {"q": [1.0]}, "cold": {"q": 1.0}, "reruns": {}})
    out = "INFO noise\n" + good + "\nnull\n42\n[1, 2]\n{\"other\": 1}\n"
    res = bench._parse_group_stdout(out)
    assert res is not None and res["trials"] == {"q": [1.0]}


def test_group_stdout_parse_returns_none_without_result():
    assert bench._parse_group_stdout("null\n42\nnot json\n") is None


def test_group_partition_covers_every_bench_query_exactly_once():
    # exercises bench.py's REAL ordering helper (r13 review: a local
    # re-implementation of the sort key would keep passing after a
    # regression in the actual code)
    from hadoop_word_score_spark.plans.queries import REGISTRY

    names = [n for n, s in REGISTRY.items() if s.bench]
    ordered = bench._order_for_grouping(names, {})
    groups = [
        ordered[i : i + bench.GROUP_SIZE]
        for i in range(0, len(ordered), bench.GROUP_SIZE)
    ]
    flat = [n for g in groups for n in g]
    assert flat == ordered and sorted(flat) == sorted(names)
    assert all(0 < len(g) <= bench.GROUP_SIZE for g in groups)
    # with no prior costs the order is deterministic (name ascending)
    assert ordered == sorted(names)


def test_cost_desc_grouping_clusters_heavy_rows_and_stays_total():
    # r13: group composition follows previous-round cost descending so new
    # heavy rows share sessions with other heavy rows instead of ageing a
    # cheap group (SCALE_PROBE.md r12 receipt). Unknown-cost names rank 0
    # and land together at the tail; the partition still covers every name
    # exactly once.
    names = ["a_cheap", "b_new", "c_heavy", "d_mid", "e_heavy2", "f_cheap"]
    prev = {"c_heavy": 4.0, "e_heavy2": 3.5, "d_mid": 1.0,
            "a_cheap": 0.2, "f_cheap": 0.3}
    ordered = bench._order_for_grouping(names, prev)
    assert ordered == ["c_heavy", "e_heavy2", "d_mid", "f_cheap",
                       "a_cheap", "b_new"]
    groups = [ordered[i : i + 3] for i in range(0, len(ordered), 3)]
    assert groups[0] == ["c_heavy", "e_heavy2", "d_mid"]  # heavy cluster
    assert sorted(n for g in groups for n in g) == sorted(names)


def test_adjudication_records_isolated_and_verdict():
    # every flagged row gets exactly one solo rerun; the verdict flips on
    # whether the isolated warm min clears the same 1.5x vs-prev bar
    calls = []

    def fake_run(name):
        calls.append(name)
        return {"trials": {name: [2.0, 0.4, 0.45]}, "cold": {}, "reruns": {}}

    out = bench._adjudicate_regressions(
        {"a": 4.6, "b": 2.0},
        {"a": 1.84, "b": 0.9},
        {"a": 0.4, "b": 0.45},
        run=fake_run,
    )
    assert calls == ["a", "b"]
    assert out["a"]["isolated_sec"] == 0.4
    assert out["a"]["grouped_sec"] == 1.84
    assert out["a"]["verdict"] == "recovered-isolated"
    assert out["b"]["verdict"] == "recovered-isolated"

    out2 = bench._adjudicate_regressions(
        {"a": 4.0}, {"a": 1.6},
        {"a": 0.4},
        run=lambda n: {"trials": {n: [1.7, 1.6, 1.65]}},
    )
    assert out2["a"]["verdict"] == "confirmed-regression"
    assert bench._adjudicate_regressions({}, {}, {}, run=fake_run) == {}


def test_isolated_runner_dispatches_stream_rows():
    # streaming drains don't exist in the query REGISTRY, so their solo
    # rerun must route through --solo-stream, not --group
    import bench as b

    assert "streaming_tumbling_drain" in b._STREAM_ROWS
    assert "streaming_ingest_drain" in b._STREAM_ROWS


def test_adjudication_survives_failed_rerun():
    # one flaky solo subprocess must not discard the whole bench artifact
    def bad_run(name):
        if name == "a":
            raise RuntimeError("child produced no result JSON")
        return {"trials": {name: [0.5]}}

    out = bench._adjudicate_regressions(
        {"a": 2.0, "b": 2.0}, {"a": 1.0, "b": 1.0},
        {"a": 0.5, "b": 0.5}, run=bad_run,
    )
    assert out["a"]["verdict"] == "rerun-failed"
    assert "no result JSON" in out["a"]["error"]
    assert out["b"]["verdict"] == "recovered-isolated"


def test_impl_fp_sees_transitive_module_content(tmp_path, monkeypatch):
    # The fingerprint must change when a transitively-imported engine module
    # changes content — that is the exact gap the r5 advice flagged (the
    # similarity.py rewrite was invisible to oracle-keyed evidence).
    from hadoop_word_score_spark.plans.queries import REGISTRY

    spec = REGISTRY["similarity_topk"]
    before = bench._impl_fp(spec.fn)
    import inspect

    src = inspect.getsource(spec.fn)
    mods = bench._resolve_rel_imports(src, ("plans",))
    assert "operators.similarity" in bench._engine_module_closure(tuple(sorted(mods)))
    # simulate a module edit by clearing the digest cache and patching the
    # file content hash path through a copied package root
    import shutil

    fake_root = tmp_path / "pkg"
    shutil.copytree(bench._PKG_ROOT, fake_root)
    target = fake_root / "operators" / "similarity.py"
    target.write_text(target.read_text() + "\n# rewritten\n")
    monkeypatch.setattr(bench, "_PKG_ROOT", str(fake_root))
    monkeypatch.setattr(bench, "_modules_digest_cache", {})
    after = bench._impl_fp(spec.fn)
    assert after != before


def test_closure_resolves_package_level_relative_imports():
    # r6 ADVICE (medium): `from ..functions import codecs` used to resolve
    # to a nonexistent functions.py and drop silently, leaving codecs.py
    # out of every multimodal fingerprint. The closure must now contain
    # the package __init__ AND the imported submodule.
    from bench import _engine_module_closure

    closure = _engine_module_closure(("operators.multimodal",))
    assert "functions.codecs" in closure
    assert "functions.__init__" in closure


def test_unresolvable_relative_import_fails_loudly():
    import pytest

    from bench import _resolve_rel_imports

    with pytest.raises(ImportError, match="cannot resolve"):
        _resolve_rel_imports("from ..nosuchpkg import thing\n", ("plans",))


def test_package_import_aliases_and_lists_resolve_submodules():
    from bench import _resolve_rel_imports

    mods = _resolve_rel_imports(
        "from ..functions import codecs as _c, text\n", ("operators",)
    )
    assert {"functions.__init__", "functions.codecs", "functions.text"} <= mods


def test_multiline_parenthesized_relative_import_resolves_submodules():
    # "from ..pkg import (\n a,\n b)" previously captured names="(" and
    # silently dropped every submodule from the fingerprint (r7 ADVICE).
    from bench import _resolve_rel_imports

    mods = _resolve_rel_imports(
        "from ..functions import (\n    codecs,\n    text as _t,\n)\n",
        ("operators",),
    )
    assert {"functions.__init__", "functions.codecs", "functions.text"} <= mods


def test_inline_comment_in_multiline_import_keeps_following_names():
    # review r8: a trailing '# ...' on one line of a parenthesized import
    # must not swallow the names on the following lines
    from bench import _resolve_rel_imports

    mods = _resolve_rel_imports(
        "from ..functions import (\n    codecs,  # helper\n    text,\n)\n",
        ("operators",),
    )
    assert {"functions.__init__", "functions.codecs", "functions.text"} <= mods
