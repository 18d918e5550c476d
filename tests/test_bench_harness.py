"""Tests for bench.py's harness.

The harness itself runs end to end in the bench; these pin the seams a
refactor could silently break: the group stdout parse, the group partition,
the counter gate (with and without Spark), and the implementation
fingerprint's import closure.
"""

from __future__ import annotations

import json

import bench


def test_group_stdout_parse_skips_stray_json_values():
    # r10 advice: a bare "null"/number/list from logging noise parsed after
    # the result line must not be returned as the group result.
    good = json.dumps({"trials": {"q": [1.0]}, "cold": {"q": 1.0}, "layers": {}})
    out = "INFO noise\n" + good + "\nnull\n42\n[1, 2]\n{\"other\": 1}\n"
    res = bench._parse_group_stdout(out)
    assert res is not None and res["trials"] == {"q": [1.0]}


def test_group_stdout_parse_returns_none_without_result():
    assert bench._parse_group_stdout("null\n42\nnot json\n") is None


def test_group_partition_covers_every_bench_query_exactly_once():
    # exercises bench.py's REAL chunking helper (a local re-implementation
    # would keep passing after a regression in the actual code)
    from hadoop_word_score_spark.plans.queries import REGISTRY

    names = [n for n, s in REGISTRY.items() if s.bench]
    groups = bench._groups(names)
    flat = [n for g in groups for n in g]
    # registration order, every name exactly once
    assert flat == names
    assert all(0 < len(g) <= bench.GROUP_SIZE for g in groups)


def test_previous_record_rejects_other_scale_factor(tmp_path, monkeypatch):
    # counters scale with the data and with local[N] (file splits, AQE
    # coalescing): a record from another sf or cpus compares as none
    local = tmp_path / "BENCH_LOCAL.json"
    monkeypatch.setattr(bench, "_LOCAL", str(local))
    assert bench._previous_record(0.1, 8) == {}
    local.write_text(json.dumps({"sf": 0.01, "cpus": 8, "queries": {"a": 1.0}}))
    assert bench._previous_record(0.1, 8) == {}
    local.write_text(json.dumps({"sf": 0.1, "cpus": 32, "queries": {"a": 1.0}}))
    assert bench._previous_record(0.1, 8) == {}
    local.write_text(json.dumps({"sf": 0.1, "queries": {"a": 1.0}}))
    assert bench._previous_record(0.1, 8) == {}
    local.write_text(json.dumps({"sf": 0.1, "cpus": 8, "queries": {"a": 1.0}}))
    assert bench._previous_record(0.1, 8)["queries"] == {"a": 1.0}


def _layers(**over):
    rec = {c: 5.0 for c in bench.GATED}
    rec.update({"job_s": 1.0, "tasks.run_s": 0.5, "sort.s": 0.1,
                "driver.outside_sql_s": 0.2, "trace.collect_s": 0.01})
    rec.update(over)
    return rec


def test_gate_lists_wall_time_only_change_as_slower_with_its_layer():
    prev = {"queries": {"q": 1.0}, "layers": {"q": _layers()}}
    now = _layers(**{"job_s": 3.0, "driver.outside_sql_s": 1.9,
                     "trace.collect_s": 5.0})
    regressions, slower = bench._vs_prev(prev, {"q": 3.0}, {"q": now}, {})
    assert regressions == {}
    assert slower == {"q": {"ratio": 3.0, "layer": "driver.outside_sql_s"}}


def test_gate_flags_changed_counters_only():
    prev = {"queries": {"q": 1.0, "r": 1.0},
            "layers": {"q": _layers(), "r": _layers()}}
    now = {"q": _layers(**{"driver.jobs": 6.0}), "r": _layers()}
    regressions, slower = bench._vs_prev(
        prev, {"q": 1.0, "r": 1.0}, now, {"q": True})
    assert regressions == {"q": {"driver.jobs": [5.0, 6.0], "impl_changed": True}}
    assert slower == {}
    # a row with no previous layers record is not compared
    assert bench._vs_prev({}, {"q": 9.0}, now, {}) == ({}, {})


def test_gate_catches_an_injected_shuffle(spark):
    # the same tiny aggregate through the bench's own trial helper, the
    # second time with one extra repartition: the counters must move
    from pyspark.sql import functions as F

    collector = bench._collector(spark)

    def trial(extra_shuffle: bool) -> dict:
        def body() -> None:
            df = spark.range(1000)
            if extra_shuffle:
                df = df.repartition(3)
            df.groupBy((F.col("id") % 10).alias("k")).count().write.format(
                "noop").mode("overwrite").save()

        dt, rec = bench._trial(collector, body, read=True)
        assert dt >= 0 and rec["job_s"] == dt
        return rec

    before, after = trial(False), trial(True)
    regressions, _ = bench._vs_prev(
        {"queries": {"q": before["job_s"]}, "layers": {"q": before}},
        {"q": after["job_s"]}, {"q": after}, {},
    )
    assert {"exchange.shuffle_records", "driver.jobs"} <= set(regressions["q"])
    old, new = regressions["q"]["exchange.shuffle_records"]
    assert new > old


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
