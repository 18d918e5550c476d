"""Tests for bench.py's harness and the tools built on it.

The harness itself runs end to end in the bench; these pin the seams a
refactor could silently break: the group stdout parse, the group partition,
the counter gate (with and without Spark), the implementation
fingerprint's import closure, the scale-growth tool's flags, and that
every package definition is reached from an entry point. One Spark test
pins the property that matters at 100 TB: no bench row's job count depends
on the data size.
"""

from __future__ import annotations

import ast
import json
import re

from pathlib import Path

import bench

from tests.conftest import SF_BENCH, SF_ORACLE

ROOT = Path(__file__).resolve().parent.parent

# Package definitions that no entry point reaches but that stay, each with
# its reason. Every other top-level function and class must be reached.
_FORMAT_LAYER = (
    "the S5/S7 format layer in sources/sinks.py (JSONL, ORC, partitioned, "
    "range-clustered and bucketed writes, small-file compaction), pinned by "
    "ten tests in test_sinks.py; unmeasured, and left to a change of its own "
    "to measure or delete, so that one change does not take out 49 tests"
)
KEEP = {
    **dict.fromkeys(
        ("write_csv", "write_jsonl", "read_jsonl", "write_partitioned_parquet",
         "write_range_clustered", "write_bucketed", "write_orc", "read_orc",
         "compact_small_files"),
        _FORMAT_LAYER,
    ),
    "train_hashed_logreg": "the fit side of the served md5 scorer "
    "hashed_linear_score, on the same buckets",
    "export_weights": "turns train_hashed_logreg's output into the integer "
    "weight table the served scorer reads",
    "perceptual_ingest_sink": "multimodal dedup on arrival, a north-star "
    "operator; a bench row for it changes bench_set_hash, so it is its own "
    "change",
    "vacuum_ingest": "sweeps the uncommitted batch dirs a crash leaves in "
    "either ingest sink's target",
    "image_dhash64": "the hasher recipe perceptual_ingest_sink runs",
    "ann_index_begin_rebuild": "writes the versioned index layout that "
    "resolve_index_root reads on every probe",
    "ann_index_commit_version": "commits the versioned index layout that "
    "resolve_index_root reads on every probe",
    "semantic_dup_pairs": "thin public entry whose tests are the only "
    "exactness check of _assigned_and_pairs, which reached code runs",
    "incremental_hamming_pairs": "thin public entry whose tests are the only "
    "exactness check of the cross-relation _hamming_join, which reached "
    "code runs",
    "content_hash_sql": "the DuckDB-parity reference that tests compare "
    "content_hash_col against",
    "encode_ppm": "codec encoder that tests use to build the images the "
    "decoders read",
    "encode_bmp24": "codec encoder that tests use to build the images the "
    "decoders read",
    "write_sequence_file": "reference interop: the SequenceFile<Text, "
    "IntWritable> the reference writes between its two jobs (CWS:170-176)",
    "read_sequence_file": "reference interop: reads the reference's "
    "intermediate SequenceFile (CWS:190-191)",
}


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


def test_worker_init_is_not_a_time_layer():
    # Spark's per-task "time to initialize Python workers" can exceed the
    # task itself, so it never names the layer that grew.
    rec = {"job_s": 2.0, "trace.collect_s": 0.1, "tasks.run_s": 1.0,
           "arrow.python_s": 0.4, "arrow.worker_init_s": 80.0,
           "sort.s": 0.2, "driver.jobs": 5.0}
    assert bench._time_layers(rec) == ["tasks.run_s", "arrow.python_s", "sort.s"]
    prev = {"queries": {"q": 1.0}, "layers": {"q": _layers(**rec)}}
    now = _layers(**{**rec, "job_s": 3.0, "arrow.python_s": 1.0,
                     "arrow.worker_init_s": 160.0})
    _, slower = bench._vs_prev(prev, {"q": 3.0}, {"q": now}, {})
    assert slower == {"q": {"ratio": 3.0, "layer": "arrow.python_s"}}


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


def _load_scale_growth():
    import importlib.util

    path = ROOT / "tools" / "scale_growth.py"
    spec = importlib.util.spec_from_file_location("scale_growth", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_growth_flags_rounds_and_superlinear_shuffles():
    sg = _load_scale_growth()

    def rec(rows: int, jobs: int, shuffled: int) -> dict:
        return {"sources.rows_read": rows, "driver.jobs": jobs,
                "driver.sql_executions": 1, "exchange.shuffle_records": shuffled}

    # input flat on the first step, 10x on the second; counters linear
    g = sg.growth([rec(500, 4, 100), rec(500, 4, 120), rec(5000, 4, 1200)])
    assert g["input"] == [1.0, 10.0]
    assert g["exp"]["exchange.shuffle_records"] == ["—", "1.00"]
    assert g["exp"]["driver.jobs"] == ["—", "0.00"]
    assert g["flags"] == []
    # a job count that moves with the data
    g = sg.growth([rec(500, 4, 100), rec(5000, 5, 1000), rec(50000, 4, 10000)])
    assert g["flags"] == ["rounds depend on data"]
    # shuffle records growing 40x on a 10x input
    g = sg.growth([rec(500, 4, 100), rec(5000, 4, 1000), rec(50000, 4, 40000)])
    assert g["exp"]["exchange.shuffle_records"] == ["1.00", "1.60"]
    assert g["flags"] == ["superlinear"]


def test_tools_find_the_checkout_from_their_own_path():
    # a tool run from a copy of the tree must import and write that copy,
    # not the checkout it was copied from: none names a checkout by an
    # absolute path on sys.path or in open()
    files = [*sorted((ROOT / "tools").glob("*.py")),
             ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    absolute = re.compile(r"""(sys\.path\.insert\(0,|open\()\s*["']/""")
    texts = {f.name: f.read_text() for f in files}
    offenders = [n for n, t in texts.items()
                 if str(ROOT) in t or absolute.search(t)]
    assert offenders == []


def test_bench_rows_run_the_same_jobs_at_every_scale(spark):
    # A row whose job count grows with the data is a driver loop whose
    # rounds depend on the data: the hazard at 100 TB. Each bench row runs
    # twice at sf0.01 and twice at sf0.1 through the bench's own trial, and
    # the second run's jobs and SQL executions must match across the sfs
    # (the first run may build a content-keyed index the second reuses).
    from hadoop_word_score_spark.plans.queries import REGISTRY

    collector = bench._collector(spark)
    names = [n for n, s in REGISTRY.items() if s.bench]
    rounds: dict[str, list[tuple]] = {n: [] for n in names}
    for sf_dir in (SF_ORACLE, SF_BENCH):
        for name in names:
            def body(name=name, sf_dir=sf_dir) -> None:
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()

            bench._trial(collector, body, read=False)
            _, rec = bench._trial(collector, body, read=True)
            rounds[name].append(
                (rec["driver.jobs"], rec["driver.sql_executions"]))
    moved = {n: r for n, r in rounds.items() if len(set(r)) > 1}
    assert moved == {}, f"(jobs, SQL executions) at sf0.01 vs sf0.1: {moved}"


def _identifiers(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def test_every_package_definition_is_reached_from_an_entry_point():
    # Entry points: the driver contract, the CLI, the bench, tools/,
    # perfbench/ (not its tests) and every @register query. Reach follows
    # Name, Attribute and import-alias identifiers, never strings, so a
    # name in a docstring reaches nothing. It matches by name, not module,
    # which can only over-count reach. A test-only capability fails here
    # until a bench row, a query or a KEEP reason justifies it.
    pkg = ROOT / "hadoop_word_score_spark"
    roots: set[str] = set()
    for f in [ROOT / "__spark_entry__.py", ROOT / "bench.py",
              pkg / "__main__.py", *(ROOT / "tools").glob("*.py"),
              *(ROOT / "perfbench").glob("*.py")]:
        roots |= _identifiers(ast.parse(f.read_text()))
    bodies: dict[str, list[ast.AST]] = {}
    where: dict[str, str] = {}  # top-level functions and classes
    for path in sorted(pkg.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                for dec in stmt.decorator_list:
                    roots |= _identifiers(dec)  # runs at import
                if any(isinstance(d, ast.Call)
                       and isinstance(d.func, ast.Name)
                       and d.func.id == "register"
                       for d in stmt.decorator_list):
                    roots |= _identifiers(stmt)
                    continue
                bodies.setdefault(stmt.name, []).append(stmt)
                where[stmt.name] = f"{path.relative_to(ROOT)}:{stmt.lineno}"
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = (stmt.targets if isinstance(stmt, ast.Assign)
                           else [stmt.target])
                for n in (n for t in targets for n in ast.walk(t)):
                    if isinstance(n, ast.Name):
                        bodies.setdefault(n.id, []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _identifiers(stmt)  # module-level code runs

    def reach(start: set[str]) -> set[str]:
        seen: set[str] = set()
        todo = set(start)
        while todo:
            name = todo.pop()
            if name not in seen:
                seen.add(name)
                for node in bodies.get(name, ()):
                    todo |= _identifiers(node) - seen
        return seen

    reached = reach(roots | set(KEEP))
    unreached = sorted(f"{where[n]} {n}" for n in set(where) - reached)
    assert unreached == [], (
        f"{len(unreached)} package definitions only tests reach, or "
        "nothing: delete them, reach them from an entry point, or add "
        "them to KEEP with a reason:\n" + "\n".join(unreached)
    )
    from_entry = reach(roots)
    stale = sorted(n for n in KEEP if n not in where or n in from_entry)
    assert stale == [], f"KEEP names what is gone or now reached: {stale}"
