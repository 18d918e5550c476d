"""Text column functions — REF tokenizer/scorer parity + EXT text analysis.

All pure Column expressions (JVM-side, whole-stage-codegen'd): no Python UDFs
in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact java.util.StringTokenizer default delimiter set (space \t \n \r \f) —
# deliberately NOT \s, which is a superset (e.g. \x0B vertical tab) and would
# break parity with ComputeWordScore.java:116-120. Runs of delimiters collapse;
# a leading delimiter yields one empty token that callers must drop.
DELIM_CLASS = "[ \\t\\n\\r\\f]+"

# The same class for embedding in F.expr / spark.sql STRING LITERALS, where the
# SQL parser consumes one level of backslash escaping before the regex engine
# sees the pattern ('\f' is not a SQL escape and would collapse to a literal
# 'f' — a delimiter that silently mangles every word containing f!).
DELIM_CLASS_SQL = "[ \\\\t\\\\n\\\\r\\\\f]+"

# stars → modifier lookup (ComputeWordScore.java:38-45, 86-93):
# 5★ → +2, 4★ → +1, 3★ → 0, 2★ → −1, 1★ → −2. Out-of-range stars → null
# (the reference NPEs; we null-propagate, the 100 TB-sane choice).
SCORE_MODIFIERS: dict[int, int] = {5: 2, 4: 1, 3: 0, 2: -1, 1: -2}


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count (empty string → 0), long."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.array_remove(F.split(F.trim(c), DELIM_CLASS), "")
    return F.size(toks).cast("long")


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum-non-space.
# A cheap stand-in for a GPT-2-style pretoken regex that both Spark and DuckDB
# evaluate identically.
BPEISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]"


def token_count_bpeish(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPEISH_PATTERN), F.lit(0))).cast("long")


# Polynomial rolling hash (Rabin–Karp): h_i = (h_{i-1}*31 + codepoint) mod p.
# p = 1e9+7 keeps every intermediate < 2^35 — no int64 overflow, so Spark and
# any ANSI-SQL oracle compute bit-identical values.
FINGERPRINT_MOD = 1_000_000_007


def rolling_fingerprint(text_col_name: str) -> Column:
    """Deterministic document fingerprint (SURVEY §2.10 text analysis).

    Expressed with the higher-order ``aggregate`` over a codepoint sequence —
    stays inside codegen, no UDF. Takes a column *name* (used inside a SQL
    lambda expression).
    """
    # Explicit empty guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) rather
    # than returning empty — without the CASE the empty-string result is 0 only
    # by accident of ascii('') = 0.
    return F.expr(
        f"CASE WHEN length({text_col_name}) = 0 THEN 0L "
        f"WHEN {text_col_name} IS NULL THEN NULL "
        f"ELSE aggregate(sequence(1, length({text_col_name})), 0L, "
        f"(acc, i) -> (acc * 31 + ascii(substring({text_col_name}, i, 1))) % {FINGERPRINT_MOD}) END"
    )
