"""Dedup-on-ingest: a foreachBatch sink growing a near-dup-quarantined corpus.

The batch dedup family (operators/dedup.py) answers "clean this corpus";
rolling crawls need the other direction — "is this NEW document a near-dup
of anything we already hold?" — decided at arrival time, without ever
re-signing the accumulated corpus. This sink is that ingestion path.

Semantics — greedy first-arrival: a document is QUARANTINED iff it near-dup
matches (banded MinHash candidates + exact-Jaccard verify, the
``minhash_lsh_pairs`` contract) ANY document that arrived before it — in a
prior micro-batch, or with a lower id inside its own batch. Quarantined
documents are still INDEXED, so a later doc matching only a quarantined one
is itself quarantined. The rule "matches any earlier arrival" is pairwise
and order-deterministic; it intentionally differs from the batch pipeline's
global min-id connected components on LATE-BRIDGED clusters (a bridge doc
arriving after two mutually-dissimilar members merges them retroactively in
the batch view only — ingest-time dedup cannot revisit past decisions).
``tests/test_streaming.py`` pins both the chain-free equivalence and the
bridge divergence.

The 100 TB property: each batch signs ONLY its own documents. Prior
arrivals participate through the PERSISTED band index
(``incremental_lsh_pairs``' ``base_index`` path — one equi-join on
(band_idx, band_hash), new batch is the small side), and corpus text
re-enters only for the candidate ids in the verify join. A batch commit
appends one ``docs/batch=<id>`` and one ``index/batch=<id>`` directory;
nothing already written is read back for re-signing or rewritten.

Exactly-once: the pointer protocol of ``streaming/sinks.py`` — a re-delivered
``batch_id <= last_batch_id`` is a no-op; batch directories are written
(mode=overwrite, so a crashed half-write is self-healing on redelivery)
BEFORE the ``_latest`` pointer swap publishes them. The text sink and its
media sibling ``perceptual_ingest_sink`` run on the one ``_ingest_sink``
skeleton, and ``read_ingested`` reads either kind of target.

Reference scope: hopper19/hadoop-word-score has no streaming or dedup
operators (ComputeWordScore.java:1-224); this is part of the mandated
LLM-training-pipeline extension surface.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    hamming_near_pairs,
    incremental_hamming_pairs,
    incremental_lsh_pairs,
    minhash_band_index,
    minhash_lsh_pairs,
)
from ..session import overlap_jobs
from .sinks import _commit, _read_pointer, _validate_local_target

_DOCS = "docs"
_INDEX = "index"


def _batch_dir(target: str, sub: str, batch_id: int) -> str:
    return os.path.join(target, sub, f"batch={batch_id}")


def _committed_dirs(target: str, sub: str, last_batch: int) -> list[str]:
    """Only batch dirs the pointer has published: a crash between the batch
    write and the pointer swap leaves an UNCOMMITTED ``batch=<n>`` dir on
    disk, and a naive directory-wide read would feed the redelivered batch
    its own half-written docs as "corpus" (every doc then self-matches and
    is wrongly quarantined on replay)."""
    root = os.path.join(target, sub)
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("batch=") and int(name.split("=", 1)[1]) <= last_batch:
            out.append(os.path.join(root, name))
    return sorted(out)


def read_ingested(spark: SparkSession, target: str) -> DataFrame | None:
    """All committed arrivals of either sink's target: (doc_id, text,
    quarantined, matched_id) for :func:`dedup_ingest_sink`, (doc_id,
    payload, quarantined, matched_id) for :func:`perceptual_ingest_sink`.

    ``matched_id`` is the lowest-id earlier arrival the doc matched (NULL
    for kept docs). None before the first commit.
    """
    version, last_batch = _read_pointer(target)
    if version == 0:
        return None
    return spark.read.parquet(*_committed_dirs(target, _DOCS, last_batch))


def _ingest_sink(target, who, id_col, body_col, body, sign, find_matches):
    """The exactly-once ``foreachBatch`` skeleton both sinks run on: the
    replay guard, the batch pin, the quarantine tail, the overlapped index
    and docs writes, and the pointer swap. A family supplies two steps:

    ``sign(batch) -> (signed, index_rows)`` signs the pinned (doc_id,
    ``body``) batch once; ``index_rows`` is what ``index/batch=<id>``
    persists. ``find_matches(batch, signed, earlier) -> (doc_id,
    match_id)`` pairs each doc with the earlier arrivals it near-dup
    matches, within the batch and, when ``earlier`` is not None, in the
    committed corpus: ``earlier(sub)`` reads the committed ``docs`` or
    ``index`` batch dirs.
    """
    target = _validate_local_target(target, who)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        version, last_batch = _read_pointer(target)
        if batch_id <= last_batch:
            return  # replayed batch — already committed
        # One stable materialization: the batch relation feeds signing, the
        # within-batch pair pass, the corpus probe and the docs write —
        # foreachBatch re-evaluating the source per consumer is both
        # wasteful and (for non-replayable sources) unsafe.
        batch = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(body_col).alias(body)
        ).localCheckpoint()
        signed, index_rows = sign(batch)

        def earlier(sub: str) -> DataFrame:
            return spark.read.parquet(*_committed_dirs(target, sub, last_batch))

        matches = find_matches(batch, signed, earlier if version > 0 else None)
        quarantined = matches.groupBy("doc_id").agg(
            F.min("match_id").alias("matched_id")
        )
        annotated = batch.join(quarantined, "doc_id", "left").select(
            "doc_id",
            body,
            F.col("matched_id").isNotNull().alias("quarantined"),
            "matched_id",
        )
        # The two batch-dir writes are INDEPENDENT jobs (the index write
        # reads only the checkpointed signatures; the docs write only the
        # match relation), so the index write runs from a driver thread
        # while the docs write's pair-verify + join tail would otherwise
        # leave executors idle (guide §2.6 back-fill; r16 optimization).
        # Exactly-once is untouched: BOTH writes complete before the
        # pointer swap below publishes them, and a crash mid-either-write
        # leaves the same unpublished batch dirs a sequential crash did
        # (vacuum_ingest's contract).
        overlap_jobs(
            spark,
            lambda: index_rows.write.mode("overwrite").parquet(
                _batch_dir(target, _INDEX, batch_id)
            ),
            lambda: annotated.write.mode("overwrite").parquet(
                _batch_dir(target, _DOCS, batch_id)
            ),
        )
        _commit(target, version + 1, batch_id)

    return write_batch


def dedup_ingest_sink(
    target: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
):
    """A ``foreachBatch`` function quarantining near-dup arrivals.

    Usage::

        stream.writeStream.foreachBatch(dedup_ingest_sink(path))
              .option("checkpointLocation", ckpt).trigger(availableNow=True)
    """

    def sign(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        # Sign the batch EXACTLY ONCE (the module contract): one checkpointed
        # band index feeds all three consumers — the within-batch pair pass,
        # the incremental corpus probe, and the index/batch=<id> write.
        # (Re-signing inside each consumer would triple the dominant
        # Arrow-UDF cost per commit.) Quarantined docs are
        # indexed too (see module docstring); the index carries mh_meta so a
        # later probe with different parameters fail-fasts instead of
        # silently degrading recall.
        index = minhash_band_index(
            batch, "doc_id", "text", n, num_hashes, bands
        ).localCheckpoint()
        return index, index

    def find_matches(batch: DataFrame, index: DataFrame, earlier) -> DataFrame:
        # Earlier arrivals within the batch: pairs come back id_a < id_b,
        # so id_b is the later arrival and id_a its match.
        matches = minhash_lsh_pairs(
            batch, "doc_id", "text", n, num_hashes, bands, threshold,
            index=index,
        ).select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("match_id"))
        if earlier is None:
            return matches
        return matches.unionByName(
            incremental_lsh_pairs(
                earlier(_DOCS), batch, "doc_id", "text", n, num_hashes, bands,
                threshold, base_index=earlier(_INDEX), new_index=index,
            ).select(
                F.col("new_id").alias("doc_id"), F.col("base_id").alias("match_id")
            )
        )

    return _ingest_sink(
        target, "dedup_ingest_sink", id_col, text_col, "text", sign, find_matches
    )


def perceptual_ingest_sink(
    target: str,
    hashers: dict[str, object],
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    chunks: int = 4,
):
    """``dedup_ingest_sink``'s MULTIMODAL sibling: a ``foreachBatch``
    function quarantining perceptual near-dup arrivals of binary media.

    ``hashers``: ``{algo: hasher, ...}``. A hasher maps a DataFrame with
    (doc_id, payload) to (doc_id, <hash>) — any 64-bit perceptual hasher
    (operators/multimodal.py::image_ahash64 / image_phash64_dct /
    audio_envelope_hash64 / video_framehash64); the hash column name is
    discovered from the hasher's output schema. ``algo`` names the hash
    recipe and is PERSISTED on every index row: a later probe under a
    different recipe fail-fasts instead of silently comparing incomparable
    hashes (the mh_meta discipline of the text sink).

    Several recipes run side by side (e.g. ahash + dhash — aHash's mean
    threshold and dHash's gradient sign fail on different perturbations,
    so the union catches more true dups). The index stays ONE flat
    relation with ``algo`` a per-row column; every comparison —
    within-batch and against the corpus — is keyed by algo, so hashes of
    different recipes never meet in a join. A doc is quarantined if it
    matches an earlier arrival under ANY configured algo. Rows under an
    algo NOT configured on this sink fail-fast (those signatures could
    silently stop matching); a NEWLY configured algo is fine — older
    arrivals simply have no signature under it, so its coverage starts at
    adoption time (the documented contract; re-signing history would
    break the never-re-read-committed-batches scale property).

    Same greedy first-arrival semantics, same exactly-once replay guard
    and pointer-before-publish commit, same 100 TB property — each batch
    hashes ONLY its own payloads; prior arrivals participate through the
    persisted flat (doc_id, hash, algo) index as the BIG build side of
    one banded equi-join per algo (incremental_hamming_pairs), with the
    new batch as the small probe. Rows a hasher DROPS (undecodable
    payloads — the perceptual family's contract) are ingested as
    kept-but-unindexed under that algo: no stable hash exists, so they
    can neither match nor be matched by it.
    """
    algos = sorted(hashers)

    def sign(batch: DataFrame) -> tuple[dict, DataFrame]:
        # Hash the batch EXACTLY ONCE PER ALGO (the decode is the dominant
        # cost); each checkpointed hash relation feeds the within-batch
        # pass, the corpus probe, and the index write. #algos is a small
        # config constant, so the driver-side loop is bounded.
        hashed = {}
        for a in algos:
            h = hashers[a](batch).localCheckpoint()
            hashed[a] = (h, [c for c in h.columns if c != "doc_id"][-1])
        index_rows = reduce(DataFrame.unionByName, [
            h.select("doc_id", F.col(c).alias("hash"), F.lit(a).alias("algo"))
            for a, (h, c) in hashed.items()
        ])
        return hashed, index_rows

    def find_matches(batch: DataFrame, hashed: dict, earlier) -> DataFrame:
        pairs = [
            hamming_near_pairs(
                h, id_col="doc_id", hash_col=c,
                max_hamming=max_hamming, chunks=chunks,
                # the batch hash relation is localCheckpointed — re-reading
                # it per join side is free, so let the optimizer broadcast
                join_hint=None,
            ).select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("match_id"))
            for h, c in hashed.values()
        ]
        if earlier is not None:
            base_index = earlier(_INDEX)
            # probe for ANY row under an unconfigured algo, the
            # _check_mh_meta discipline: algo is a per-file constant, so
            # parquet min==max stats answer the NOT-IN filter without
            # scanning row groups in the all-match case — the guard stays
            # O(files), never O(corpus), per batch
            found = base_index.filter(~F.col("algo").isin(algos)).first()
            if found is not None:
                raise ValueError(
                    f"perceptual_ingest_sink: index at {target!r} contains "
                    f"rows built with algo={found['algo']!r}, probe uses "
                    f"{algos!r} — hashes under a dropped recipe would "
                    f"silently stop matching; rebuild or match the hashers"
                )
            pairs += [
                incremental_hamming_pairs(
                    base_index.filter(F.col("algo") == a).select(
                        "doc_id", F.col("hash")
                    ),
                    h.select("doc_id", F.col(c).alias("hash")),
                    id_col="doc_id", hash_col="hash",
                    max_hamming=max_hamming, chunks=chunks,
                ).select(
                    F.col("new_id").alias("doc_id"),
                    F.col("base_id").alias("match_id"),
                )
                for a, (h, c) in hashed.items()
            ]
        return reduce(DataFrame.unionByName, pairs)

    return _ingest_sink(
        target, "perceptual_ingest_sink", id_col, payload_col, "payload",
        sign, find_matches,
    )


def vacuum_ingest(target: str) -> list[str]:
    """Delete UNCOMMITTED ``batch=<n>`` directories (n > the published
    last_batch_id) from both the docs and index trees; returns the removed
    paths. Committed batches are never touched.

    A crash between a batch write and the ``_commit`` pointer swap leaves
    a fully- or half-written batch directory that reads never see
    (``_committed_dirs`` filters on the pointer) but that occupies storage
    forever; redelivery overwrites it only if the SAME batch id is
    retried. Run it with no in-flight micro-batch, or an about-to-commit
    batch dir will be swept out from under its commit.
    """
    import shutil

    target = _validate_local_target(target, "vacuum_ingest")
    version, last_batch = _read_pointer(target)
    removed: list[str] = []
    if version == 0:
        # never committed OR the pointer file is lost — indistinguishable
        # here, and sweeping on a lost pointer would rmtree every committed
        # batch, so it refuses at version 0
        return removed
    for sub in (_DOCS, _INDEX):
        root = os.path.join(target, sub)
        if not os.path.isdir(root):
            continue
        for name in sorted(os.listdir(root)):
            if name.startswith("batch=") and int(name.split("=", 1)[1]) > last_batch:
                path = os.path.join(root, name)
                shutil.rmtree(path)
                removed.append(path)
    return removed
