"""The driver contract's oracle side: every registered query, its DuckDB
oracle, and the local replica of the driver's comparison.

``queries()`` and ``oracle_sql()`` list the registry in registration order;
the oracle gate (``tools/oracle_check.py``) runs every entry, so no order
carries meaning beyond that.
"""

from __future__ import annotations

from hadoop_word_score_spark.plans import queries as Q


def test_queries_follow_registration_order():
    import __spark_entry__

    names = list(Q.REGISTRY)
    assert list(Q.queries()) == names
    oracles = {n: s.oracle for n, s in Q.REGISTRY.items() if s.oracle is not None}
    assert list(Q.oracle_sql().items()) == list(oracles.items())
    assert list(__spark_entry__.queries().items()) == list(Q.queries().items())
    assert list(__spark_entry__.oracle_sql().items()) == list(oracles.items())


def test_every_oracle_compiles_in_duckdb():
    # The driver runs oracles against DuckDB at sf0.01; a syntax error or a
    # missing-function reference would burn a round's evidence budget on an
    # err row. EXPLAIN compiles (plans) each oracle without executing it —
    # a millisecond-scale guard over all ~120 oracles.
    import duckdb

    from tests.conftest import SF_SMOKE

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    failures = []
    for name, spec in Q.REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:  # noqa: BLE001 — report every broken oracle
            failures.append(f"{name}: {e}")
    assert not failures, "\n".join(failures)


def _load_oracle_check():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_canon_is_sign_strict_on_negative_zero():
    # The driver's canonicalizer distinguishes -0.0 from +0.0 ("%.9g"-style
    # "-0" vs "0"); the local replica must reproduce that classification or
    # it masks driver-only reds (r6/r7 embedding_covariance postmortem:
    # DuckDB ROUND emits -0.0 where Spark F.round emits +0.0).
    canon = _load_oracle_check().canon
    assert canon(-0.0) != canon(0.0)
    assert canon(0.0) == "0.0"
    assert canon(-0.0) == "-0.0"
    # integral-float type-strictness is unchanged
    assert canon(2.0) == "2.0"
    assert canon(-2.0) == "-2.0"
    assert canon(float("nan")) == "NaN"


def test_canon_distinguishes_negative_zero_inside_collections():
    canon = _load_oracle_check().canon
    assert canon([-0.0, 1.5]) != canon([0.0, 1.5])


def test_audit_wrap_detector_rejects_value_changing_epsilon():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "signed_zero_audit.py"
    spec = importlib.util.spec_from_file_location("signed_zero_audit2", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.round_sites("SELECT ROUND(x, 6) + 0.0 AS a") == [("ROUND(x, 6)", True)]
    assert mod.round_sites("SELECT ROUND(x, 6) + 0.01 AS a") == [("ROUND(x, 6)", False)]


def test_local_gate_reproduces_prefix_covariance_red(spark):
    # End-to-end replay of the r6/r7 driver red (VERDICT r7 item 2): the
    # PRE-fix covariance oracle (no "+ 0.0") emits -0.0 cells that the
    # sign-strict replica hash must now distinguish from the engine's +0.0
    # — i.e. the local gate FAILS the old oracle and PASSES the shipped
    # one against the same Spark output.
    import duckdb

    from hadoop_word_score_spark.operators.linalg import covariance_upper_rounded
    from hadoop_word_score_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    canon_mod = _load_oracle_check()
    em = load_table(spark, SF_SMOKE, "embeddings")
    sdf = covariance_upper_rounded(em, "embedding", 64, decimals=3)
    srows = [tuple(r) for r in sdf.collect()]
    sh = canon_mod.value_hash([c.lower() for c in sdf.columns], srows)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    base = """
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               unnest(embedding) AS x FROM embeddings)
    SELECT a.i AS i, b.i AS j, ROUND(covar_pop(a.x, b.x), 3){fix} AS cov
    FROM e a JOIN e b USING (vec_id) WHERE a.i <= b.i
    GROUP BY a.i, b.i ORDER BY i, j
    """
    for fix, should_match in ((" + 0.0", True), ("", False)):
        rel = con.sql(base.format(fix=fix))
        oh = canon_mod.value_hash([c.lower() for c in rel.columns], rel.fetchall())
        assert (sh == oh) is should_match, (fix, sh, oh)


def test_registry_outputs_are_flat_scalar_columns(spark):
    # Output-format contract: the driver's pandas canonicalizer sorts and
    # factorizes every output column, which requires hashable scalar cells
    # — an Array/Map/Struct column crashes it before any comparison runs
    # (r8 red: inverted_index_terms, "unhashable type: numpy.ndarray").
    # This is the second round burned by output FORMAT rather than data
    # (r6/r7: signed zero), so the contract is now structural: every
    # registered query's result schema must be flat scalars. Queries that
    # genuinely produce collections must reduce them (delimited string,
    # exploded rows, or per-element columns) before returning.
    from pyspark.sql.types import ArrayType, MapType, StructType

    from tests.conftest import SF_SMOKE

    offenders = []
    for name, spec in Q.REGISTRY.items():
        df = spec.fn(spark, SF_SMOKE)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        "non-flat output columns (driver canonicalizer cannot hash them):\n"
        + "\n".join(offenders)
    )


def test_scratch_path_keeps_the_cache_keys_and_splits_sessions(tmp_path):
    # The content-keyed .scratch dirs must keep the key strings the sites
    # built by hand, so existing caches stay valid; a per-session site gets
    # one dir per applicationId.
    import hashlib
    import os
    from types import SimpleNamespace

    for name in ("embeddings.parquet", "documents.parquet"):
        (tmp_path / name).write_bytes(b"x" * 7)
    sf = str(tmp_path)

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    def expected(kind, name, tag):
        src = os.path.join(sf, name)
        st = os.stat(src)
        key = hashlib.md5(
            f"{os.path.realpath(src)}|{st.st_mtime_ns}|{st.st_size}|{tag}".encode()
        ).hexdigest()[:16]
        return os.path.join(".scratch", kind, key)

    docs = os.path.join(sf, "documents.parquet")
    assert Q._ivf_index_path(sf).endswith(
        expected("ivf", "embeddings.parquet", "planted-v3-label|32")
    )
    assert Q._ivfpq_index_path(sf).endswith(
        expected("ivfpq", "embeddings.parquet", "ivfpq-v2-label|32|16|32")
    )
    assert Q._scratch_path("bpe_tokenizer", docs, "bpe-v1|3").endswith(
        expected("bpe_tokenizer", "documents.parquet", "bpe-v1|3")
    )
    assert Q._ivfpq_del_index_path(session("app-1"), sf).endswith(
        expected("ivfpq_del", "embeddings.parquet", "ivfpq-del-v2|32|16|32|app-1")
    )
    a = Q._scratch_path("hh_streamed", docs, "hh-v1|64", session("app-1"))
    b = Q._scratch_path("hh_streamed", docs, "hh-v1|64", session("app-2"))
    assert a != b and os.path.dirname(a) == os.path.dirname(b)


def test_scratch_gc_prunes_old_layout_leftovers(tmp_path):
    # A fixed-dir sink left loose pointer/meta files and v=<n> dirs beside
    # the content-keyed dirs. Once older than the age floor they go; a fresh
    # leftover and every key dir (the keep_newest floor) stay.
    import os
    import time

    old = time.time() - 48 * 3600
    keys = [f"{i:016x}" for i in range(3)]
    for k in keys:
        (tmp_path / k).mkdir()
    (tmp_path / "v=1").mkdir()
    (tmp_path / "v=1" / "part-0.parquet").write_bytes(b"x")
    (tmp_path / "_latest").write_text("1 0")
    (tmp_path / "_hh_meta.v2.json").write_text("{}")
    for name in [*keys, "v=1", "_latest"]:
        os.utime(tmp_path / name, (old, old))

    Q._gc_scratch_siblings(str(tmp_path), keep=keys[0])
    assert sorted(os.listdir(tmp_path)) == sorted([*keys, "_hh_meta.v2.json"])
