"""Counter growth per row across sf0.001 -> sf0.01 -> sf0.1, into SCALE_PROBE.md.

Runs every bench row and every row with an expected model through bench.py's
own machinery at each sf: registry rows in its fresh-JVM groups
(``bench._run_group``; a row's last trial carries its ``layers`` record),
the streaming rows through its drains in this process's session. Per row it
keeps the ``COUNTERS`` at each sf and, per step, the input growth (ratio of
``sources.rows_read``: not every table grows 10x per step) and each
counter's exponent log(c_hi / c_lo) / log(rows_hi / rows_lo). At 100 TB a
row's job count must not depend on the data and its shuffle must not grow
faster than its input; the flags mark rows that break either. The table
replaces the top of SCALE_PROBE.md; from the marker down the file is kept
verbatim. BENCH_LOCAL.json is not touched.

    python tools/scale_growth.py
"""

from __future__ import annotations

import glob
import math
import os
import sys

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
from __spark_entry__ import SF0001  # noqa: E402

TESTDATA = os.path.dirname(SF0001)  # the sfs sit side by side
SFS = ("sf0.001", "sf0.01", "sf0.1")
COUNTERS = ("driver.jobs", "driver.sql_executions", "exchange.shuffle_records",
            "arrow.rows_sent", "pins.count")
ROUNDS = ("driver.jobs", "driver.sql_executions")
MIN_GROWTH = 2.0  # a step whose input grew less than this has no exponent
SUPERLINEAR = 1.1  # shuffle-record exponent above this flags the row
MARKER = "<!-- MANUAL RECEIPTS -- preserved verbatim across regenerations -->"
STREAMING = (("streaming_tumbling_drain", bench._streaming_smoke),
             ("streaming_ingest_drain", bench._ingest_smoke))

MODELS = {
    "wordscore": "linear (scan+agg)",
    "q1_pricing_summary": "linear (scan+agg)",
    "q3_shipping_priority": "linear (broadcast dims)",
    "q5_local_supplier_volume": "linear (6-way join; region/nation/supplier dims broadcast)",
    "topk_per_group": "linear (rank-in-partition + filter; one group-keyed shuffle)",
    "tumbling_window": "linear (hash agg)",
    "session_window": "linear in events (user-keyed session windows)",
    "asof_join_events": "linear in events (user-keyed range join on a window)",
    "dedup_exact": "linear (hash shuffle)",
    "dedup_near_minhash": "~linear at constant pair density (sig pass + skew-safe band self-join); output-bound on a near-dup-heavy corpus, same cause as dedup_jaccard_prefix",
    "dedup_pipeline_end_to_end": "~linear + O(diameter) rounds (LSH → components → survivors)",
    "dedup_near_jaccard": "superlinear, INTENDED (Σ df² pairing): the deliberately-uncapped exact-recall yardstick, not a served operator, removed from the bench set r10; served near-dup rows (minhash, containment) are benched. Correctness remains oracle-gated.",
    "funnel_signup_click_purchase": "linear in events (3 per-user min-aggs share one scan)",
    "cohort_retention_weekly": "linear in events (per-user agg + user-keyed join, AQE-broadcast when small)",
    "similarity_topk": "linear in corpus vectors (one matmul pass; fixed 10 queries)",
    "similarity_topk_lsh": "linear in corpus vectors (sign sketch + bucket join on fixed queries)",
    "dedup_spans_exact": "linear shuffle rows; map-side partial agg absorbs deeper groups",
    "dedup_winnowing_pairs": "superlinear shuffle INTENDED: output-bound — local-min sampling ~1/(w+1) of spans, postings pair within fingerprint buckets, so matching-fingerprint pairs grow with near-dup density, same cause as dedup_jaccard_prefix",
    "heavy_hitters_terms": "linear (2 scans; shuffles bounded by partitions x capacity)",
    "q6_forecast_revenue": "linear (scan-filter-agg; pushed filters)",
    "corpus_drift_kl": "linear in tokens (one (source,term) shuffle; rest on partials)",
    "sessionize_events": "linear in events (one user-keyed sort-shuffle feeds windows + agg)",
    "events_ewma_value": "linear in events (one user-keyed collect + native fold; output stays one row per user)",
    "embedding_covariance": "linear scan, fixed-size state (partials ≤ partitions x 33 KB)",
    "similarity_ivf_build": "linear x k-means iterations (partial-sum builds; k x d centroid state)",
    "similarity_topk_ivf": "linear build + probe of nprobe cells",
    "zorder_keys": "linear (pure-codegen bit math; 256-group agg)",
    "bpe_merge_rules": "linear x n_rounds (per-round scan + vocab-sized pair agg)",
    "bpe_subword_rules": "one corpus scan + vocab-bounded rounds",
    "bpe_encode_corpus": "linear in tokens (vocab-sized encode; word join broadcast; doc agg combined)",
    "split_leakage_safe": "~linear (LSH candidates + components + cluster-map join)",
    "pagerank_supply_graph": "linear in distinct edges x rounds; shuffle records grow faster than the lineitem rows read — NOT intended and not yet explained (open)",
    "cms_frequency_estimates": "linear (2 scans; bounded sketch shuffle)",
    "corpus_prep_funnel": "~linear (flags scan + hash window + shingle join)",
    "multimodal_audio_real": "linear (render+decode mapInPandas, narrow)",
    "multimodal_video_real": "linear (demux + per-frame decode mapInPandas, narrow)",
    "kmeans_embeddings": "linear x n_iters (narrow assignment scan; k x d agg)",
    "similarity_ivfpq_build": "linear x training iterations (coarse + PQ codebooks; codes narrow)",
    "similarity_topk_ivfpq": "linear build + probe of nprobe cells over codes",
    "stats_join_key_skew": "linear scan; shuffles bounded by key cardinality",
    "pmi_collocations": "linear (2 vocab-keyed count shuffles; joins on pruned pairs)",
    "inverted_index_terms": "linear (term-keyed sort; rank filter bounds postings at 5)",
    "dedup_containment": "superlinear shuffle INTENDED: Σ min(df,50)² pairs grow quadratically in shingle df until the df ≤ 50 cap binds, linearly after",
    "dedup_semantic": "linear assignment + Σ sᵢ² gram pairs (k fixed here ⇒ superlinear pair term; k-growth is the scale lever)",
    "dedup_cluster_canonical": "~linear (LSH pairs + components; scoring on members only)",
    "corpus_dedup_rate_by_source": "~linear (cluster membership + source-keyed rollup)",
    "stats_column_entropy": "linear scan; shuffles bounded by per-column NDV",
    "corpus_ngram_novelty": "linear scan; one shingle-keyed combined count shuffle (distinct-shingle bounded)",
    "basket_association_rules": "linear (basket-keyed pair join, fan-out bounded by basket width; post-count work vocab-bounded); the 13× shuffle on 10× input is NOT intended and not yet explained (open)",
    "events_psi_drift": "linear scan; shuffles bounded at types x 2 x 10 buckets",
    "events_mad_outliers": "linear scan, but exact-percentile group buffers grow with rows/type (approx sketch is the scale path)",
    "quality_bigram_logprob": "linear (2 vocab-keyed count shuffles; LM joins vocab-sized)",
    "stats_histogram_equi_depth": "linear (range exchange + local rank; agg bounded at k buckets)",
    "pit_join_events_customer_history": "linear in events (union + key-partitioned window; no fan-out)",
    "similarity_topk_ivfpq_filtered": "as similarity_topk_ivfpq; label filter pushed into the probe",
    "events_ohlc_hourly": "linear (one combined hash agg; min_by/max_by partials are one pair each)",
    "dedup_jaccard_prefix": "superlinear shuffle INTENDED: output-bound (exact threshold pairs grow with near-dup density, not corpus size); ~linear at constant pair density (prefix, length and positional filters)",
    "graph_kcore_members": "rounds depend on data, INTENDED within the bound: the peel stops at its fixpoint, never past 12 rounds; linear in edges x peel rounds",
    "corpus_importance_dsir": "linear in tokens (bucket agg bounded at 1024; broadcast scoring join)",
    "events_markov_transitions": "linear in events (one user-keyed window; pair agg map-side combined)",
    "sample_weighted_priority": "linear scan + k-row driver merge",
    "embedding_random_projection": "linear (narrow codegen map; no fit pass)",
    "corpus_mixture_rebalance": "linear scan; planner math on source-cardinality rows",
    "events_forecast_seasonal_naive": "linear in events (one count agg; join on hour-cardinality sides)",
    "dedup_lines_c4": "linear in segment occurrences (partial-MIN combine; join fan-out = occurrences, never df²)",
    "quality_classifier_score": "linear (single scan-side fold; zero data shuffles)",
    "pack_segments": "linear (per-source window prefix-sum + proportional explode)",
    "html_extract_text": "linear (one codegen regexp pass per page)",
    "html_extract_funnel": "linear (HOF line rules scan-side; per-source agg)",
    "dedup_near_audio": "~linear envelope hash pass + skew-safe banded join",
    "bpe_encode_ids_heldout": "linear in tokens (vocab-sized train/ids; broadcast joins; fallback is a CASE)",
    "normalize_text_nfc": "linear (one Arrow UDF pass per batch)",
    "html_links_pagerank": "linear in docs x rounds ((node, rank) shuffles only)",
    "lang_classifier_score": "linear (single fused scan-side fold; zero data shuffles)",
    "dedup_near_phash": "~linear hash pass; skew-safe banded SELF-JOIN (no collect_list buckets, AQE-split eligible) — output-bound on a dup-heavy corpus",
    "dedup_near_phash_dct": "same join shape as dedup_near_phash; +integer DCT per image (fixed 8x32 basis, constant per-row cost)",
    "html_links_by_host": "linear in docs ((host/node)-cardinality shuffles only)",
    "q18_large_volume": "linear (aggregate-then-filter drives the join)",
    "decontaminate_bloom": "linear probe (fixed m-bit bitmap; build grows with the eval side)",
    "scd2_customer_history": "linear in customers (key-partitioned effective-dating window)",
    "dedup_near_video": "~linear (narrow demux+hash pass; banded join carries 64-bit rows)",
    "crawl_url_filter": "linear scan; distinct-URL agg bounded by URL universe",
    "dedup_apply_perceptual": "~linear hash/join + O(diameter) rounds on pair-cardinality relations",
    "events_anomaly_zscore": "linear in events (hourly counts; trailing window on hour-cardinality rows)",
    "bpe_encode_ids": "linear in tokens (vocab-sized train/ids; broadcast joins)",
    "host_quality_blocklist": "linear (scan-side fold; host-cardinality rollup)",
    "classifier_pr_curve": "flat BY PLAN since r16: hash-mod filter + hash-ordered LIMIT 300 cap the validation set before the fold and the single-partition sweep",
    "dedup_apply_audio": "audio twin of dedup_apply_perceptual: envelope hash pass + skew-safe banded join + component rounds",
    "dedup_apply_video": "NOT intended: component rounds depend on the data (32 → 80 jobs; F's large-star/small-star rewrite is the fix) and the extra rounds carry the superlinear shuffle; video twin of dedup_apply_perceptual (demux+framehash pass + skew-safe banded join)",
    "similarity_topk_ivfpq_deleted": "as similarity_topk_ivfpq + tombstone write and cell-local vacuum",
    "streaming_tumbling_drain": "linear in events (one availableNow drain; 16 state partitions)",
    "streaming_ingest_drain": "~linear, INTENDED output-bound edge: 2 arrival batches (sign + within-batch band pairs + index probe); band-pair candidates grow with near-dup density",
}


def _exponent(lo: float, hi: float, grew: float) -> float | None:
    """log(hi / lo) / log(grew); None if grew < MIN_GROWTH or a count is 0."""
    if grew < MIN_GROWTH or lo <= 0 or hi <= 0:
        return None
    return math.log(hi / lo) / math.log(grew)


def growth(recs: list[dict]) -> dict:
    """Growth of one row's counters over its ``layers`` records, one per
    scale factor from small to large: ``input`` (the input growth of each
    step), ``exp`` (per counter, each step's exponent as text, ``—`` where
    there is none) and ``flags``."""
    rows = [r.get("sources.rows_read", 0) for r in recs]
    steps = [hi / lo if lo else 0.0 for lo, hi in zip(rows, rows[1:])]
    exps = {c: [_exponent(a.get(c, 0), b.get(c, 0), g)
                for a, b, g in zip(recs, recs[1:], steps)] for c in COUNTERS}
    flags = []
    if any(len({r.get(c) for r in recs}) > 1 for c in ROUNDS):
        flags.append("rounds depend on data")
    if any(e is not None and e > SUPERLINEAR
           for e in exps["exchange.shuffle_records"]):
        flags.append("superlinear")
    return {"input": steps, "flags": flags,
            "exp": {c: ["—" if e is None else f"{e:.2f}" for e in es]
                    for c, es in exps.items()}}


def _num(v: float) -> str:
    return f"{v / 1e6:.2f}M" if v >= 1e6 else f"{v / 1e3:.1f}k" if v >= 1e4 else str(round(v))


def _table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    counts = {}
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True) or [path]
        counts[os.path.basename(path).removesuffix(".parquet")] = sum(
            pq.ParquetFile(f).metadata.num_rows for f in files)
    return counts


def measure(names: list[str]) -> dict[str, list[dict]]:
    """Each row's ``layers`` record at every sf in ``SFS``, in that order."""
    from hadoop_word_score_spark.session import get_spark
    from perfbench.collect import observability_confs

    spark = get_spark("scale-growth", extra_confs=observability_confs(1))
    collector = bench._collector(spark)
    out: dict[str, list[dict]] = {}
    for sf in SFS:
        sf_dir = os.path.join(TESTDATA, sf)
        os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir  # read by the group children
        for group in bench._groups(names):
            for n, rec in bench._run_group(group)["layers"].items():
                out.setdefault(n, []).append(rec)
        for n, smoke in STREAMING:
            out.setdefault(n, []).append(smoke(spark, sf_dir, collector)[1])
        print(f"{sf}: {len(out)} rows", flush=True)
    spark.stop()
    return out


def render(layers: dict[str, list[dict]], cpus: int) -> list[str]:
    tables = {sf: _table_rows(os.path.join(TESTDATA, sf)) for sf in SFS}
    lines = [
        f"# SCALE_PROBE — counter growth per row ({' → '.join(SFS)})", "",
        f"Generated by `tools/scale_growth.py` at cpus {cpus} (`local[{cpus}]`): "
        f"{len(layers)} rows run through bench.py's groups and streaming drains; "
        "the counters are each row's last-trial `layers` record. Rows per table:", "",
        f"| table | {' | '.join(SFS)} |", "|---" * (len(SFS) + 1) + "|",
        *(f"| {t} | {' | '.join(str(tables[sf][t]) for sf in SFS)} |"
          for t in tables[SFS[0]]), "",
        "A counter cell is its value at each sf, then per step its exponent "
        "log(c_hi/c_lo) / log(rows_hi/rows_lo), rows being `sources.rows_read` "
        f"(the rows the query read); `—` where the input grew less than {MIN_GROWTH:g}× "
        "or the counter is 0 at one end. *rounds depend on data*: jobs or SQL "
        "executions differ across the sfs. *superlinear*: a shuffle-record exponent "
        f"above {SUPERLINEAR}. Dominant layer: the largest time layer at {SFS[-1]}.", "",
        "| query | input growth | jobs | SQL execs | shuffle records | Arrow rows "
        "| pins | dominant layer | flags | expected model |",
        "|---" * 10 + "|",
    ]
    for name, recs in layers.items():
        g, top = growth(recs), recs[-1]
        cells = [" / ".join(_num(r.get(c, 0)) for r in recs)
                 + f" ({', '.join(g['exp'][c])})" for c in COUNTERS]
        dominant = max(bench._time_layers(top), key=top.get)
        lines.append(
            f"| {name} | {', '.join(f'{s:.1f}×' for s in g['input'])} "
            f"| {' | '.join(cells)} | {dominant} ({top[dominant]:.2f}s) "
            f"| {', '.join(g['flags']) or '—'} | {MODELS.get(name, '—')} |")
    return lines + ["", "The sections below the marker were produced by the deleted "
                    "`tools/scale_probe.py` (wall time at 1× and a 10× replicated "
                    "copy) and are no longer regenerated.", ""]


def main() -> None:
    from hadoop_word_score_spark.plans.queries import REGISTRY
    from hadoop_word_score_spark.session import default_parallelism

    names = [n for n, s in REGISTRY.items() if s.bench or n in MODELS]
    lines = render(measure(names), default_parallelism())
    path = ROOT / "SCALE_PROBE.md"
    prev = path.read_text()
    path.write_text("\n".join(lines) + "\n" + prev[prev.index(MARKER):])
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
