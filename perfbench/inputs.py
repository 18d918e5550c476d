"""Seeded input generators and the ground truth each workload's check needs.

Every generator is a pure function of (seed, size): the same pair gives
byte-identical files. Inputs are cached under ``perfbench/.cache`` keyed by
(workload, seed, size), so only the first run of a seed pays generation.
The package under test only ever sees the files written here.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Same delimiter class as the package's tokenizer (functions/text.py).
_DELIMS = re.compile("[ \t\n\r\f]+")


def _words(rng: np.random.Generator, n: int, prefix: str) -> np.ndarray:
    """n distinct pseudo-words (letters only, so no JSON escaping)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(3, 10, size=k)
        idx = rng.integers(0, 26, size=(k, 9))
        for row, ln in zip(idx, lens):
            out.add(prefix + "".join(letters[row[:ln]]))
    return np.array(sorted(out), dtype=object)


def tokens(text: str) -> list[str]:
    return [w for w in _DELIMS.split(text) if w]


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-gram shingles, as ``functions/hashing.py`` defines them."""
    w = tokens(text)
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


# ---------------------------------------------------------------------------
# wordscore_jsonl
# ---------------------------------------------------------------------------


def gen_wordscore(seed: int, size: int, out: str) -> dict:
    """JSONL reviews: stars 1-5, Zipf vocabulary, ~0.5% malformed lines.

    Ground truth: the exact score of every word (sum of the star modifier
    over its occurrences in well-formed lines).
    """
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 20_000, "")
    lens = rng.integers(4, 40, size=size)
    ranks = rng.zipf(1.2, size=int(lens.sum()))
    tok = (ranks - 1) % len(vocab)
    stars = rng.integers(1, 6, size=size)
    bad = rng.random(size) < 0.005
    starts = np.concatenate([[0], np.cumsum(lens)])
    lines = []
    for i in range(size):
        text = " ".join(vocab[tok[starts[i] : starts[i + 1]]])
        if bad[i]:
            # truncated object: PERMISSIVE mode turns it into nulls
            lines.append(f'{{"stars": {stars[i]}.0, "text": "{text}')
        else:
            lines.append(f'{{"review_id": {i}, "stars": {stars[i]}.0, "text": "{text}"}}')
    os.makedirs(out)
    with open(os.path.join(out, "reviews.json"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    doc_of = np.repeat(np.arange(size), lens)
    good = ~bad[doc_of]
    mod = np.array([0, -2, -1, 0, 1, 2])[stars[doc_of]]
    score = np.bincount(tok[good], weights=mod[good], minlength=len(vocab))
    seen = np.bincount(tok[good], minlength=len(vocab)) > 0
    truth = {str(w): int(s) for w, s, k in zip(vocab, score, seen) if k}
    return {"rows": size, "scores": truth}


# ---------------------------------------------------------------------------
# dedup: arriving documents with planted duplicates
# ---------------------------------------------------------------------------


def _edit(rng: np.random.Generator, words: list[str], vocab: np.ndarray) -> list[str]:
    out = list(words)
    for p in rng.choice(len(out), size=2, replace=False):
        out[p] = str(vocab[rng.integers(len(vocab))])
    return out


DEDUP_BATCHES = 2


def gen_dedup(seed: int, size: int, out: str) -> dict:
    """Documents arriving in ``DEDUP_BATCHES`` batches, with planted duplicates.

    About 10% of documents are near-duplicates (an earlier document with two
    tokens replaced, kept only when exact shingle Jaccard >= 0.75) and 3%
    are exact copies of an earlier document. Ground truth: the planted
    (doc, source, jaccard) triples.
    """
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 50_000, "")
    texts: list[str] = []
    planted: list[tuple[int, int, float]] = []
    for i in range(size):
        r = rng.random()
        if i >= 10 and r < 0.13:
            src = int(rng.integers(0, i))
            if r < 0.03:
                texts.append(texts[src])
                planted.append((i, src, 1.0))
                continue
            base = texts[src].split(" ")
            for _ in range(8):
                cand = " ".join(_edit(rng, base, vocab))
                j = jaccard(shingles(cand), shingles(texts[src]))
                if j >= 0.75:
                    texts.append(cand)
                    planted.append((i, src, round(j, 6)))
                    break
            else:
                texts.append(" ".join(vocab[rng.integers(0, len(vocab), 50)]))
            continue
        n = int(rng.integers(40, 80))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    os.makedirs(out)
    bounds = np.linspace(0, size, DEDUP_BATCHES + 1).astype(int)
    for b in range(DEDUP_BATCHES):
        lo, hi = bounds[b], bounds[b + 1]
        table = pa.table({
            "doc_id": pa.array(np.arange(lo, hi), pa.int64()),
            "text": pa.array(texts[lo:hi], pa.string()),
        })
        path = os.path.join(out, f"batch-{b}.parquet")
        pq.write_table(table, path)
        # the file source admits files oldest first: pin the arrival order
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    with open(os.path.join(os.path.dirname(out), "texts.json"), "w", encoding="utf-8") as f:
        json.dump(texts, f)
    return {"rows": size, "batches": DEDUP_BATCHES, "planted": planted}


# ---------------------------------------------------------------------------
# ann: clustered embeddings and held-out queries
# ---------------------------------------------------------------------------

ANN_DIM = 64
ANN_K = 10
ANN_QUERIES = 20


def _round6(x: np.ndarray) -> np.ndarray:
    return np.round(x, 6) + 0.0


def exact_topk(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force cosine top-k, ranked like the package: similarity rounded
    to 6 places descending, ties by the lower candidate id."""
    c = corpus.astype(np.float64)
    qq = q.astype(np.float64)
    s = _round6((c @ qq.T) / (np.linalg.norm(c, axis=1)[:, None] * np.linalg.norm(qq, axis=1)[None, :]))
    out = []
    for j in range(qq.shape[0]):
        order = np.lexsort((ids, -s[:, j]))[:k]
        out.append([int(ids[o]) for o in order])
    return out


def gen_ann(seed: int, size: int, out: str) -> dict:
    """Clustered float32 embeddings plus held-out query vectors.

    64 Gaussian clusters; queries are fresh draws from the same clusters,
    with ids disjoint from the corpus. Ground truth: exact cosine top-10.
    """
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(64, ANN_DIM))
    lab = rng.integers(0, len(centers), size=size)
    corpus = (centers[lab] + 0.35 * rng.normal(size=(size, ANN_DIM))).astype(np.float32)
    qlab = rng.integers(0, len(centers), size=ANN_QUERIES)
    qv = (centers[qlab] + 0.35 * rng.normal(size=(ANN_QUERIES, ANN_DIM))).astype(np.float32)
    ids = np.arange(size, dtype=np.int64)
    qids = np.arange(size, size + ANN_QUERIES, dtype=np.int64)
    os.makedirs(out)
    for name, i, v in (("corpus", ids, corpus), ("queries", qids, qv)):
        table = pa.table({
            "vec_id": pa.array(i, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
        })
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    truth = exact_topk(corpus, ids, qv, ANN_K)
    return {"rows": size, "queries": ANN_QUERIES, "topk": dict(zip(map(str, qids), truth))}


def load_ann(path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    c = pq.read_table(os.path.join(path, "corpus.parquet"))
    q = pq.read_table(os.path.join(path, "queries.parquet"))
    as_np = lambda t: np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    return (c.column("vec_id").to_numpy(), as_np(c), q.column("vec_id").to_numpy(), as_np(q))


# ---------------------------------------------------------------------------
# dedup_ann
# ---------------------------------------------------------------------------

DEDUP_DOCS = 600


def gen_dedup_ann(seed: int, size: int, out: str) -> dict:
    """``DEDUP_DOCS`` arriving documents (``gen_dedup``) under ``docs`` and
    the rest of the ``size`` records as vectors (``gen_ann``) under
    ``vectors``, each with its own ground truth."""
    return {"docs": gen_dedup(seed, DEDUP_DOCS, os.path.join(out, "docs")),
            "vectors": gen_ann(seed, size - DEDUP_DOCS, os.path.join(out, "vectors"))}


GENERATORS = {
    "wordscore_jsonl": gen_wordscore,
    "dedup_ann": gen_dedup_ann,
}


def prepare(cache_root: str, workload: str, seed: int, size: int) -> tuple[str, dict, float]:
    """Cached inputs for (workload, seed, size): (data dir, truth, gen seconds).

    Generation seconds are 0 on a cache hit. A half-written entry (no
    truth file) is regenerated.
    """
    entry = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    data, truth_file = os.path.join(entry, "data"), os.path.join(entry, "truth.json")
    if os.path.exists(truth_file):
        with open(truth_file, encoding="utf-8") as f:
            return data, json.load(f), 0.0
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(entry)
    t = time.perf_counter()
    truth = GENERATORS[workload](seed, size, data)
    gen_s = time.perf_counter() - t
    tmp = truth_file + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(truth, f)
    os.replace(tmp, truth_file)
    return data, truth, gen_s
