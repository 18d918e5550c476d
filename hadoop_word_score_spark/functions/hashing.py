"""Hash-family column functions: shingles, MinHash signatures, SimHash.

All pure Spark SQL expressions (xxhash64 is a JVM built-in — evaluated inside
whole-stage codegen, shuffled nowhere until the explicit groupBy). These back
the near-dup operators in operators/dedup.py (SURVEY §2.10 L2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import DELIM_CLASS_SQL


def let1(bound_expr: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``bound_expr`` once, reference it as ``var``.

    Higher-order functions are interpreted (no whole-stage codegen, no
    common-subexpression elimination), so an expression textually repeated —
    or inlined by CollapseProject into a lambda body that runs per element —
    is *re-evaluated* each time. Binding via a 1-element array + transform
    lambda forces exactly one evaluation. At 100 TB this is the difference
    between tokenizing each document once and tokenizing it 64 times.
    """
    return f"transform(array({bound_expr}), {var} -> {body})[0]"


def tokens_expr(text_col: str) -> str:
    """SQL expr: whitespace tokens with empties dropped (tokenizer parity).

    Uses the SQL-escaped delimiter class: inside a Spark SQL string literal,
    single backslashes are consumed by the *literal* parser first ('\\f' has no
    SQL escape → literal 'f' would become a delimiter and mangle every
    f-word). DELIM_CLASS is for the PySpark column API only.
    """
    return f"array_remove(split({text_col}, '{DELIM_CLASS_SQL}'), '')"


def bigrams_expr(text_col: str) -> str:
    """SQL expr: adjacent-token bigrams as 'w1 w2' strings (multiplicity
    kept, empty for docs under 2 tokens). Single source of truth for the
    three bigram consumers (bigram_counts, pmi_collocations,
    quality_bigram_logprob) — the token array is let-bound so the
    tokenizer runs once per document, and a tokenizer change here stays in
    lockstep with the shared DuckDB oracle tokenization."""
    return let1(
        tokens_expr(text_col), "w",
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', slice(w, i, 2))) "
        "ELSE cast(array() as array<string>) END",
    )


def shingles_expr(text_col: str, n: int = 3) -> str:
    """SQL expr: distinct word n-gram shingles of ``text_col``.

    Short docs (< n tokens) yield an empty array — the CASE guard matters
    because Spark's sequence(1, 0) counts *down* rather than returning empty.
    """
    body = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(w, i, {n})))) "
        f"ELSE array() END"
    )
    return let1(tokens_expr(text_col), "w", body)


def shingles(text_col: str, n: int = 3) -> Column:
    return F.expr(shingles_expr(text_col, n))


def winnow_fingerprints_expr(text_col: str, k: int = 5, w: int = 8) -> str:
    """SQL expr: winnowing fingerprint set (Schleimer/Wilkerson/Aiken 2003).

    md5 every ``k``-token gram, keep the minimum hash of each ``w``-wide
    window of consecutive gram hashes, distinct. Guarantee: two documents
    sharing any run of ``w + k - 1`` tokens share at least one fingerprint
    (property-tested); expected density 2/(w+1) of the gram count. md5
    rather than xxhash64 so DuckDB oracles compute bit-identical values.
    Both passes are let-bound — one tokenize and one gram pass per document.
    """
    grams = (
        f"CASE WHEN size(w) >= {k} THEN "
        f"transform(sequence(1, size(w) - {k - 1}),"
        f" i -> md5(concat_ws(' ', slice(w, i, {k})))) "
        f"ELSE array() END"
    )
    sel = (
        f"CASE WHEN size(hs) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(hs) - {w - 1}),"
        f" j -> array_min(slice(hs, j, {w})))) "
        f"ELSE array() END"
    )
    return let1(let1(tokens_expr(text_col), "w", grams), "hs", sel)


def _shingle_cmix(n: int) -> np.ndarray:
    """Per-offset odd multipliers for the rolling n-gram shingle combine.

    Derived from an INDEPENDENT fixed seed, so text_minhash_udf and
    text_shingle_hashes_udf produce identical shingle hashes for any
    ``num_hashes`` — the previous derivation burned the signature family's
    draws first, silently breaking the shared-family invariant whenever
    minhash was called with num_hashes != 32.
    """
    rs = np.random.RandomState(987654321)
    return (rs.randint(1, 2**62, size=n).astype(np.uint64) << np.uint64(1)) | np.uint64(1)


def text_minhash_udf(num_hashes: int = 32, n: int = 3):
    """Vectorized text → MinHash signature (array<long>), fused in Python.

    Tokenize (StringTokenizer-parity delimiters) → distinct word n-gram
    shingles → one md5 base hash per shingle → (shingles × slots)
    multiply-add uint64 family, min along axis 0. Fusing the whole chain in
    one Arrow batch avoids both the interpreted-HOF tax (per-call
    expression-tree overhead, ~1600 calls/doc) and optimizer rules inlining
    a Python UDF's HOF argument where it can't evaluate. Signature values
    are engine-internal (bucket keys only) — the family only needs to be
    uniform (recall tests).
    Empty shingle sets (docs with < n tokens) → null.
    """
    import re
    from itertools import chain

    from pyspark.sql.functions import pandas_udf

    rs = np.random.RandomState(1234)
    a = (rs.randint(1, 2**62, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rs.randint(1, 2**62, size=num_hashes).astype(np.uint64)
    cmix = _shingle_cmix(n)
    delims = re.compile("[ \t\n\r\f]+")

    @pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        # Whole-batch vectorization: the only Python-level loop is the regex
        # split per doc. Tokens hash once via pd.util.hash_array (C siphash,
        # process-independent); shingle hashes are a rolling multiply-xor of
        # n consecutive token hashes on the *flat* token array (doc-boundary
        # crossings masked out); per-doc minima via np.minimum.reduceat.
        # A min over a multiset equals the min over the set, so distinct
        # shingle materialization — the old per-doc Python cost — is skipped.
        n_docs = len(texts)
        toks = [delims.split(t) if t else [] for t in texts]
        flat = [w for ts in toks for w in ts if w]
        counts = np.fromiter(
            (sum(1 for w in ts if w) for ts in toks), dtype=np.int64, count=n_docs
        )
        sh_counts = np.maximum(counts - (n - 1), 0)
        nz = np.flatnonzero(sh_counts)
        if nz.size == 0:
            return pd.Series([None] * n_docs, dtype=object)
        h = pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
        m = h.size - (n - 1)
        sh = h[0:m] * cmix[0]
        for j in range(1, n):
            sh = sh ^ (h[j : m + j] * cmix[j])
        doc_of = np.repeat(np.arange(n_docs), counts)
        sh = sh[doc_of[0:m] == doc_of[n - 1 : m + n - 1]]
        starts = (np.cumsum(sh_counts) - sh_counts)[nz]
        mins = np.empty((nz.size, num_hashes), dtype=np.int64)
        for s in range(num_hashes):
            mins[:, s] = np.minimum.reduceat(sh * a[s] + b[s], starts).view(np.int64)
        out = np.full(n_docs, None, dtype=object)
        out[nz] = list(mins)
        return pd.Series(out, dtype=object)

    return sig


def band_hashes(signature_col: str, bands: int, rows: int) -> Column:
    """LSH banding: hash each of ``bands`` contiguous ``rows``-slices.

    Docs agreeing on any band land in the same bucket — the standard
    (b, r) S-curve tradeoff: P(candidate) = 1 - (1 - j^r)^b for Jaccard j.
    """
    # Explicit null propagation: concat_ws(',', null) is '' (not null), so
    # without the CASE every null-signature doc would hash into one shared
    # bucket — empty-string band hashes — and pair with every other one.
    body = (
        f"CASE WHEN g IS NULL THEN NULL ELSE "
        f"transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(b, concat_ws(',', slice(g, b * {rows} + 1, {rows})))) END"
    )
    return F.expr(let1(signature_col, "g", body))


def simhash64_expr(text_col: str) -> str:
    """SQL expr: 64-bit SimHash over whitespace tokens — no shuffle.

    For each bit j: sum ±1 over tokens (sign of token-hash bit j), then set
    bit j if the sum is positive. Token multiplicity counts (classic SimHash).
    """
    # Hash every token once up front (let-bound), then fold bits — the naive
    # form re-tokenized and re-hashed the whole document per bit (64×).
    hashes = f"transform({tokens_expr(text_col)}, t -> xxhash64(t))"
    body = (
        "aggregate(sequence(0, 63), 0L, (acc, j) -> acc + CASE WHEN "
        "aggregate(h, 0L, (s, x) -> s + CASE WHEN (shiftright(x, j) & 1) = 1 "
        "THEN 1 ELSE -1 END) > 0 THEN shiftleft(1L, j) ELSE 0L END)"
    )
    return let1(hashes, "h", body)


def text_shingle_hashes_udf(n: int = 3):
    """Vectorized text → distinct word n-gram shingle hashes (array<long>).

    Same tokenize→rolling-hash pipeline as text_minhash_udf (same cmix
    family, so the two agree on what a shingle is), but returns the per-doc
    distinct shingle-hash set instead of folding it into a signature. Backs
    the exact-Jaccard operators: set cardinality — hence exact Jaccard — is
    preserved up to 64-bit collisions, and the interpreted-HOF chain
    (sequence/slice/concat_ws per position) never runs.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    cmix = _shingle_cmix(n)
    delims = re.compile("[ \t\n\r\f]+")

    @pandas_udf("array<long>")
    def sh_hashes(texts: pd.Series) -> pd.Series:
        n_docs = len(texts)
        toks = [delims.split(t) if t else [] for t in texts]
        counts = np.fromiter(
            (sum(1 for w in ts if w) for ts in toks), dtype=np.int64, count=n_docs
        )
        flat = [w for ts in toks for w in ts if w]
        sh_counts = np.maximum(counts - (n - 1), 0)
        empty = np.empty(0, dtype=np.int64)
        out = [empty] * n_docs
        if len(flat) >= n:
            h = pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
            m = h.size - (n - 1)
            sh = h[0:m] * cmix[0]
            for j in range(1, n):
                sh = sh ^ (h[j : m + j] * cmix[j])
            doc_of = np.repeat(np.arange(n_docs), counts)
            sh = sh[doc_of[0:m] == doc_of[n - 1 : m + n - 1]].view(np.int64)
            starts = np.cumsum(sh_counts) - sh_counts
            for i in np.flatnonzero(sh_counts):
                s = starts[i]
                out[i] = np.unique(sh[s : s + sh_counts[i]])
        return pd.Series(out, dtype=object)

    return sh_hashes


def unigram_bigram_feats_expr(text_col: str) -> str:
    """SQL expr: hashed-classifier feature list — the unigram tokens
    followed by adjacent 'w1 w2' bigrams, from ONE let1-bound tokenizer
    evaluation. The single source of truth for classifier training AND
    serving (operators/classifier.py); the quality_classifier_score oracle
    rebuilds the same list in DuckDB — a tokenizer or feature change here
    must land in all three places together."""
    return let1(
        tokens_expr(text_col),
        "w",
        "concat(w, CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', slice(w, i, 2))) "
        "ELSE cast(array() as array<string>) END)",
    )
