"""Golden-fixture tests for the flagship word-score operator.

The de-facto spec is ComputeWordScore.java:32-56 (javadoc) + the tokenizer
semantics of java.util.StringTokenizer (CWS:116-120): split on exactly
{space, \t, \n, \r, \f}, collapse runs, preserve case and punctuation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_word_score_spark.operators.wordscore import word_score


def _reviews(spark, rows):
    return spark.createDataFrame(rows, "stars double, text string")


def scores_of(spark, rows, **kw):
    df = word_score(_reviews(spark, rows), **kw)
    return {r.word: r.score for r in df.collect()}


def test_basic_scoring(spark):
    # 5★ → +2 per occurrence, 1★ → −2, net effect across reviews (CWS:38-52)
    s = scores_of(spark, [(5.0, "good good bad"), (1.0, "bad")])
    assert s == {"good": 4, "bad": 0}


def test_all_star_modifiers(spark):
    s = scores_of(spark, [(5.0, "w"), (4.0, "w"), (3.0, "w"), (2.0, "w"), (1.0, "w")])
    assert s == {"w": 2 + 1 + 0 - 1 - 2}


def test_double_stars_narrowing(spark):
    # JSON stars arrive as doubles (4.0); reference narrows via intValue()
    # (CWS:113). 4.9 would also narrow to 4 — truncation, not rounding.
    s = scores_of(spark, [(4.9, "tok")])
    assert s == {"tok": 1}


def test_tokenizer_delimiters(spark):
    # Runs of space/tab/newline/CR/formfeed collapse; no empty tokens.
    s = scores_of(spark, [(5.0, "a \t b\n\nc\rd\fe  f")])
    assert s == {"a": 2, "b": 2, "c": 2, "d": 2, "e": 2, "f": 2}


def test_vertical_tab_is_not_a_delimiter(spark):
    # StringTokenizer's set is NOT regex \s: \x0B stays inside the token.
    s = scores_of(spark, [(5.0, "a\x0bb")])
    assert s == {"a\x0bb": 2}


def test_leading_trailing_delimiters(spark):
    s = scores_of(spark, [(5.0, "  lead trail  ")])
    assert s == {"lead": 2, "trail": 2}


def test_case_and_punctuation_preserved(spark):
    # No lowercasing, no punctuation stripping (CWS:116-120).
    s = scores_of(spark, [(5.0, "Good good. (good)")])
    assert s == {"Good": 2, "good.": 2, "(good)": 2}


def test_out_of_range_stars_null_propagates(spark):
    # Reference NPEs on stars ∉ 1..5; we null-propagate (sum ignores nulls).
    s = scores_of(spark, [(7.0, "x"), (5.0, "x")])
    assert s == {"x": 2}


def test_strict_int_parity_casts_to_int(spark):
    df = word_score(_reviews(spark, [(5.0, "a")]), strict_int_parity=True)
    assert dict(df.dtypes)["score"] == "int"


def test_output_column_order_is_score_word(spark):
    # The reference emits `score \t word` (CWS:215-216) — code beats javadoc.
    df = word_score(_reviews(spark, [(5.0, "a")]))
    assert df.columns == ["score", "word"]


def test_sorted_descending(spark):
    df = word_score(_reviews(spark, [(5.0, "hi hi hi"), (1.0, "lo"), (4.0, "mid")]))
    scores = [r.score for r in df.collect()]
    assert scores == sorted(scores, reverse=True)


def test_custom_weights(spark):
    # L5: the operator is parameterized — a different rating→weight table.
    s = scores_of(spark, [(1.0, "x"), (2.0, "x")], weights={1: 10, 2: -10})
    assert s == {"x": 0}


def test_conservation_property(spark):
    # Σ_word score(word) == Σ_review modifier(review) * n_tokens(review)
    rows = [(float(1 + i % 5), f"t{i} t{(i*7) % 13} shared") for i in range(50)]
    df = _reviews(spark, rows)
    total_scores = word_score(df).agg(F.sum("score")).collect()[0][0]
    mods = {1: -2, 2: -1, 3: 0, 4: 1, 5: 2}
    expected = sum(mods[int(s)] * len(t.split()) for s, t in rows)
    assert total_scores == expected


def test_jsonl_roundtrip(spark, scratch_dir):
    # The reference-native input path: JSONL file → same result (S1+S2).
    import json
    import os

    from hadoop_word_score_spark.sources.reviews import read_reviews_jsonl

    path = os.path.join(scratch_dir, "reviews.jsonl")
    with open(path, "w") as f:
        for stars, text in [(5.0, "alpha beta"), (1.0, "beta")]:
            f.write(json.dumps({"stars": stars, "text": text, "extra": "ignored"}) + "\n")
    s = {r.word: r.score for r in word_score(read_reviews_jsonl(spark, path)).collect()}
    assert s == {"alpha": 2, "beta": 0}


def test_cli_end_to_end(spark, scratch_dir):
    # the reference's CLI contract: <input> <output>, score\tword descending,
    # one output file; exit 2 on misuse. A malformed line is quarantined by
    # default and, with --fail-fast, fails the job: exit 1 (CWS:102-108, 218)
    import glob
    import json
    import os

    from hadoop_word_score_spark.__main__ import main

    good = [json.dumps({"stars": stars, "text": text})
            for stars, text in [(5.0, "good good bad"), (1.0, "bad")]]
    bad = [good[0], '{"stars": 4.0, "text": "good', good[1]]

    def run(name: str, lines: list[str], *flags: str) -> tuple[int, list[str]]:
        inp = os.path.join(scratch_dir, name)
        os.makedirs(inp, exist_ok=True)
        with open(os.path.join(inp, "r.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        out = os.path.join(scratch_dir, name + "_out")
        rc = main([inp, out, *flags])
        return rc, [open(p).read() for p in glob.glob(os.path.join(out, "part-*"))]

    rc, outs = run("cli_reviews", good)
    assert rc == 0 and len(outs) == 1
    lines = [ln.split("\t") for ln in outs[0].splitlines()]
    assert [(int(s), w) for s, w in lines] == [(4, "good"), (0, "bad")]
    assert run("cli_reviews_bad", bad) == (0, outs)
    assert run("cli_reviews_bad_ff", bad, "--fail-fast")[0] == 1
    assert main(["only-one-arg"]) == 2


def test_cli_conf_passthrough(spark, scratch_dir):
    # ToolRunner -D parity (CWS:144, 221-223): -D key=value lands on the
    # session; malformed options are a usage error (exit 2)
    import json
    import os

    from hadoop_word_score_spark.__main__ import main

    inp = os.path.join(scratch_dir, "cli_conf_reviews")
    os.makedirs(inp, exist_ok=True)
    with open(os.path.join(inp, "r.json"), "w") as f:
        f.write(json.dumps({"stars": 5.0, "text": "ok"}) + "\n")
    out = os.path.join(scratch_dir, "cli_conf_out")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main([inp, out, "-D", "spark.sql.shuffle.partitions=7"]) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert main([inp, out, "--conf", "not-a-pair"]) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
