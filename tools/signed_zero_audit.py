"""Structural audit of ROUND sites in oracles for IEEE signed-zero exposure.

Background (VERDICT r7 item 1/3): DuckDB's ``ROUND`` keeps the IEEE sign when
a tiny negative rounds to zero (``ROUND(-1e-9, 6)`` -> ``-0.0``) while
Spark's ``F.round`` goes through BigDecimal and always yields ``+0.0``. A
sign-strict value hash (the driver's) then reds a query whose values are all
numerically equal — deterministically, whenever the data puts any rounded
cell in ``(-0.5 * 10^-d, 0)``. ``embedding_covariance`` hit this for 549 of
2080 cells two rounds running.

The structural rule this audit enforces over EVERY oracle in the registry:

    every ``ROUND(...)`` site must be either
      (a) wrapped — immediately followed by ``+ 0.0`` (IEEE ``-0.0 + 0.0``
          is ``+0.0``, a no-op for every other value), or
      (b) allowlisted here with a written proof that its argument cannot be
          a tiny negative (counts, prices, quantities, ratios of
          non-negatives, identity re-rounding of fixed-decimal source data).

Engine side needs no mirror for JVM ``F.round`` sites (always ``+0.0``,
verified in tests/test_properties.py); numpy/pandas rounding DOES preserve
``-0.0``, so the two pandas-rounded operators (``zscore_per_group``,
``brute_force_topk``/IVF scoring) normalize with ``+ 0.0`` after rounding.

Run: ``python tools/signed_zero_audit.py`` (exit 1 on violations); also run
as a pytest via tests/test_oracles.py.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def round_sites(sql: str) -> list[tuple[str, bool]]:
    """All ``ROUND(...)`` call sites in ``sql`` as (normalized_text, wrapped).

    ``wrapped`` = the call is immediately followed by ``+ 0.0`` (whitespace
    insensitive). Balanced-paren extraction, case-insensitive match.
    """
    out = []
    up = sql.upper()
    i = 0
    while True:
        m = re.search(r"\bROUND\s*\(", up[i:])
        if not m:
            break
        start = i + m.start()
        j = i + m.end()
        depth = 1
        while depth and j < len(sql):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        text = re.sub(r"\s+", " ", sql[start:j]).strip()
        tail = re.sub(r"\s+", "", sql[j:j + 12])
        # the token must END after 0.0 — "+ 0.01" is a value-changing
        # epsilon, not the signed-zero normalizing wrap (review r8)
        wrapped = tail.startswith("+0.0") and not tail[4:5].isdigit()
        out.append((text, wrapped))
        i = j
    return out


# (query name, regex on normalized site text) -> proof of non-negativity.
# A site matching NO allowlist entry and not wrapped is a violation.
_NONNEG = [
    # TPC-H money/quantity columns: l_extendedprice >= ~900, l_quantity >= 1,
    # o_totalprice > 0, p_retailprice > 0, l_discount/l_tax in [0, 0.11] —
    # so every sum/avg/min/max of them, and of price*(1-disc)(*(1+tax)),
    # is strictly positive (or COALESCE(..., 0.0) with exact +0.0 literal).
    (r".*", r"ROUND\((SUM|AVG|MIN|MAX)\((l1\.)?(l_quantity|l_extendedprice|l_discount|o_totalprice|p_retailprice|c_acctbal)\)",
     "agg of a non-negative TPC-H measure (c_acctbal sites are sums over a positive-filtered subset)"),
    (r".*", r"ROUND\((SUM|AVG)\((l1\.)?l_extendedprice \* \(1 - l_discount\)\)",
     "revenue: price>0, discount in [0,0.11]"),
    (r".*", r"ROUND\(SUM\(l_extendedprice \* \(1 - l_discount\) \* \(1 \+ l_tax\)\)",
     "charge: all factors positive"),
    (r".*", r"ROUND\(SUM\(l_extendedprice \* l_(discount|quantity)\)",
     "product of non-negative measures"),
    (r".*", r"ROUND\(COALESCE\(SUM\(o_totalprice\), 0\.0\)", "positive sum or +0.0 literal"),
    (r".*", r"ROUND\(SUM\(o_totalprice\) OVER ", "windowed sum of positive"),
    (r".*", r"ROUND\(AVG\(o_totalprice\) OVER ", "windowed avg of positive"),
    (r".*", r"ROUND\((o_totalprice|s_acctbal|c_acctbal|p_retailprice|l_extendedprice), -?\d\)$",
     "identity/coarse re-round of a stored fixed-decimal value: both engines read the "
     "IDENTICAL input double, and a 2-dec stored value is never in (-0.005, 0)"),
    (r".*", r"ROUND\(c_acctbal \+ 100(\.0)?, 2\)",
     "acctbal >= -999.99 so +100 shifts the 2-dec lattice; result never in (-0.005, 0)"),
    (r".*", r"ROUND\(l_extendedprice \* \(1 - l_discount\), 4\)", "scalar revenue > 0"),
    (r"math_funcs", r"ROUND\(POW\(l_quantity, 2\)|ROUND\(LN\(l_extendedprice\)|ROUND\(SQRT\(l_quantity\)",
     "quantity >= 1, extendedprice >= 900 => ln/sqrt/pow all > 0"),
    (r".*", r"ROUND\(list_sum\(list_transform\(CAST\(embedding AS DOUBLE\[\]\), x -> x \* x\)\)",
     "sum of squares"),
    (r".*", r"ROUND\(SUM\(value\)",
     "events.value in [0, 560] measured at every shipped SF (no negative has ever been "
     "generated); the value-transforming sites (EWMA, z-score) ARE wrapped — if a future "
     "fixture adds negative values, move these SUM sites to the wrap list too"),
    (r".*", r"ROUND\(quantile_cont\(delta_s", "conversion deltas are non-negative durations"),
    (r".*", r"ROUND\(n_common / \(size_a \+ size_b - n_common\)", "Jaccard in [0,1]"),
    (r".*", r"ROUND\(SUM\( ?ln\(\(n - df \+ 0\.5\) / \(df \+ 0\.5\) \+ 1\.0\)",
     "BM25: log argument > 1 and tf factors > 0, so every addend >= 0"),
    (r".*", r"ROUND\(tf \* ln\(n_docs / df\)", "df <= n_docs (integers) => ln >= 0 exactly"),
    (r".*", r"ROUND\(PERCENT_RANK\(\) OVER|ROUND\(CUME_DIST\(\) OVER", "rank fractions in [0,1]"),
    (r".*", r"ROUND\(100\.00 \* SUM\(CASE WHEN p_type LIKE 'PROMO%'",
     "promo share: non-negative numerator over positive denominator"),
    (r".*", r"ROUND\(SUM\(CASE WHEN sn\.n_name = 'NATION_5'", "market share in [0,1]"),
    (r".*", r"ROUND\(SUM\(l1\.l_extendedprice\) / 7\.0", "positive sum / positive"),
    (r".*", r"ROUND\(len\(list_distinct\(w\)\) / NULLIF\(len\(w\), 0\)", "TTR in [0,1]"),
    (r"quality_repetition_filter", r"ROUND\(1\.0 - len\(list_distinct\(w\)\) \* 1\.0 / len\(w\)",
     "distinct <= total: k/n <= 1 with k==n giving exactly 1.0, so 1-k/n >= 0 (never a tiny negative)"),
    (r"quality_repetition_filter", r"ROUND\(list_sum\(list_transform\(w, x -> len\(x\)\)\)",
     "mean token length > 0"),
    (r".*", r"ROUND\(stddev_samp\(l_discount\)", "stddev >= 0"),
    (r".*", r"ROUND\(CAST\(n_tokens AS DOUBLE\) / corpus_tokens", "token share in [0,1]"),
    (r".*", r"ROUND\(AVG\(n_chars\)", "char counts positive"),
    (r".*", r"ROUND\(CAST\(\(ps_partkey \* 31 \+ ps_suppkey \* 17\) % 10000 AS DOUBLE\)",
     "non-negative modulus"),
    (r".*", r"ROUND\(SUM\(cnt \* ln\(tc / n_total\)\) / SUM\(cnt\)", None),  # NEGATIVE — must wrap
    (r".*", r"ROUND\(rank \* n\.n", "PageRank mass >= 0"),
    (r".*", r"ROUND\(SUM\(rank\) \* \(SELECT n FROM n\)",
     "per-host PageRank mass: every rank >= (1-damping)/n > 0 (the teleport "
     "floor), so a group sum scaled by n > 0 is strictly positive"),
    (r".*", r"ROUND\(value, 2\)$", "unpivoted lineitem measures, all non-negative"),
    (r".*", r"ROUND\(SUM\(l_extendedprice \* l_quantity\) / SUM\(l_quantity\)",
     "weighted avg of positive prices"),
    (r".*", r"ROUND\(qscale, 9\)|ROUND\(rmse, 9\)", "scale/rmse >= 0"),
    (r"embedding_quantize_int8", r"^round\(x / qscale\)$",
     "inner int8 quantizer: result is CAST AS INT at one site and squared at the other — "
     "no float zero ever reaches the output"),
    (r".*", r"ROUND\(quantile_cont\(c_acctbal", None),  # interpolation can land in (-5e-5, 0) — wrap
    (r"stats_join_key_skew", r"ROUND\(cnt \* ",
     "key depth share / mean multiple: counts are strictly positive"),
    (r"kmeans_embeddings", r"ROUND\(AVG\((val|f\.dist)\)",
     "centroid coords feed arithmetic only (sign of zero is inert there); mean SQUARED "
     "distance is non-negative"),
    (r"try_error_safe_funcs", r"ROUND\(l_extendedprice / \(l_linenumber - 1\), 4\)",
     "extendedprice > 0 and the CASE guard excludes the zero denominator, so "
     "the ratio is strictly positive — never rounds to zero from either side"),
    (r"events_mad_outliers", r"ROUND\(d\.adev - 3 \* m\.mad, 6\)",
     "internal comparison operand: the rounded value feeds only a > 0 test "
     "(where -0.0 > 0 and +0.0 > 0 agree) and never reaches an output column"),
    (r"snapshot_diff_orders", r"ROUND\(o_totalprice \* 1\.1, 2\)",
     "internal snapshot fabrication: the rounded price is only equality-compared "
     "WITHIN the engine to derive change_type and never reaches an output column; "
     "prices are positive besides"),
    (r"dedup_semantic", r"ROUND\(AVG\(val\)",
     "same proof as kmeans_embeddings: the rounded value is an internal centroid "
     "coordinate consumed only by distance/cosine arithmetic, where -0.0 == +0.0 — "
     "it never reaches an output column"),
    (r"events_markov_transitions", r"ROUND\(n \* 1\.0 / SUM\(n\)",
     "transition probability: n >= 1 (a counted pair exists) over a sum of "
     "positive counts — strictly positive, never rounds to zero from below"),
]


def audit() -> list[str]:
    from hadoop_word_score_spark.plans.queries import REGISTRY

    violations = []
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        for text, wrapped in round_sites(spec.oracle):
            if wrapped:
                continue
            ok = False
            for qpat, spat, proof in _NONNEG:
                if proof and re.match(qpat, name) and re.search(spat, text):
                    ok = True
                    break
            if not ok:
                violations.append(f"{name}: unwrapped/unproven ROUND site: {text[:100]}")
    return violations


if __name__ == "__main__":
    v = audit()
    for line in v:
        print("VIOLATION", line)
    print(f"{len(v)} signed-zero violations")
    raise SystemExit(1 if v else 0)
