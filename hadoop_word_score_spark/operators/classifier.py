"""Hashed linear text classifier: training and inference (SURVEY §2.10 L4).

The model-based quality-filtering stage of modern curation pipelines
(fastText-style classifiers in DCLM / FineWeb-Edu): features are hashed
unigrams + adjacent bigrams (`functions/hashing.unigram_bigram_feats_expr`
— one source of truth shared by training, serving, and the registry
oracle), the model is a flat weight table indexed by feature bucket, the
decision is a threshold on the mean feature weight.

Scale shape: inference is ONE scan-side aggregate fold per row — the weight
table rides along as a constant-folded literal map (for a table of hundreds
to a few thousand weights, a lookup literal beats broadcasting a join side),
so the most-executed filter of a 100 TB pipeline adds zero shuffles and
stays inside the scan's projection. Training (``train_hashed_logreg``)
keeps corpus-sized work scan-side and shuffles only bucket-cardinality
gradient partials per iteration.

Exactness contract: serving weights are INTEGERS (callers scale a float
model by ``weight_scale``), per-document sums are exact int64, and the
margin is one double division — bit-identical across engines, so registry
oracles need no ROUND. Thresholding the margin is equivalent to
thresholding sigmoid(margin) (monotone); no libm exp() enters the
comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(x: Column, buckets: int) -> Column:
    """md5-derived feature bucket (first 8 hex digits mod ``buckets``) —
    the recipe an oracle can rebuild; shared by training and serving."""
    return (
        F.conv(F.substring(F.md5(x.cast("binary")), 1, 8), 16, 10)
        .cast("long") % buckets
    ).cast("int")


def hashed_linear_score(
    df: DataFrame,
    weights: list[int],
    text_col: str = "text",
    weight_scale: int = 1000,
    keep_weight_sum: bool = False,
) -> DataFrame:
    """Append (n_features, margin) under a hashed unigram+bigram model.

    ``weights``: the learned table as integers, length = bucket count;
    real weight of bucket b is ``weights[b] / weight_scale``. Buckets are
    md5-derived (first 8 hex digits mod len(weights)) so an oracle can
    rebuild the identical assignment. Rows with zero tokens are dropped
    (no features to average — the caller decides their fate upstream).

    ``keep_weight_sum``: also emit the raw integer ``weight_sum`` the
    margin divides — the column a downstream EXACT rollup needs (summing
    integer mass per group stays bit-exact where re-deriving it from the
    float margin would not).
    """
    if not weights:
        raise ValueError("hashed_linear_score: weights must be non-empty")
    if not all(isinstance(w, int) for w in weights):
        raise ValueError(
            "hashed_linear_score: weights must be integers (scale a float "
            "model by weight_scale to keep per-document sums exact)"
        )
    from ..functions.hashing import unigram_bigram_feats_expr
    from ..functions.text import DELIM_CLASS

    buckets = len(weights)
    # ARRAY literal indexed by bucket+1, not a map literal: GetMapValue on
    # a literal map is a LINEAR key scan (O(buckets) comparisons per
    # feature — r16 optimization, guide §1.2 per-task work), while
    # element_at on an array is one O(1) ordinal fetch. Buckets are dense
    # 0..buckets-1 by construction, so the two lookups are value-identical
    # (train_hashed_logreg's gradient fold already used this shape).
    w_lit = F.array(*[F.lit(w) for w in weights])
    # ONE let1-bound fold tokenizes, builds bigrams, and folds weights in a
    # single evaluation; n_features is size arithmetic over its own
    # tokenization (HOFs have no CSE — see let1's docstring).
    wsum = F.aggregate(
        F.expr(unigram_bigram_feats_expr(text_col)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.element_at(w_lit, _bucket(x, buckets) + 1),
    )
    ntok = F.size(
        F.filter(F.split(F.col(text_col), DELIM_CLASS), lambda x: x != "")
    ).cast("long")
    return (
        df.select(
            "*",
            F.when(ntok >= 2, 2 * ntok - 1).otherwise(ntok).alias("n_features"),
            wsum.alias("_wsum"),
        )
        .filter(F.col("n_features") >= 1)
        .select(
            *df.columns,
            "n_features",
            (
                F.col("_wsum") / (F.col("n_features") * F.lit(float(weight_scale)))
            ).alias("margin"),
            *([F.col("_wsum").alias("weight_sum")] if keep_weight_sum else []),
        )
    )


def hashed_table_scores(
    df: DataFrame,
    tables: list[list[int]],
    text_col: str = "text",
    scores_col: str = "scores",
) -> DataFrame:
    """Append (n_features, ``scores_col``: array<long> of len(tables))
    — the shared ONE-PASS fold under every hashed-linear consumer: all
    tables ride as one constant-folded array-of-arrays literal
    (O(1) ordinal fetch per feature), the text tokenizes once, and each feature does one md5
    bucket + one map lookup + a K-wide add. Serving stages that need
    SEVERAL models over the same text (the prep funnel's quality gate +
    language ID) stack their tables here and read the exact integer sums
    instead of paying one tokenize+hash pass per model (r15: the fused
    funnel fold — two stages for the price of one scan projection).
    Zero-token rows are dropped, as everywhere in the family."""
    if not tables or not tables[0]:
        raise ValueError("hashed_table_scores: need >= 1 non-empty table")
    buckets = len(tables[0])
    if any(len(t) != buckets for t in tables):
        raise ValueError(
            "hashed_table_scores: all weight tables must share one length "
            f"(got {[len(t) for t in tables]})"
        )
    for i, t in enumerate(tables):
        if not all(isinstance(w, int) for w in t):
            raise ValueError(
                f"hashed_table_scores: table {i} has non-integer weights "
                "(scale by weight_scale to keep sums exact)"
            )
    from ..functions.hashing import unigram_bigram_feats_expr
    from ..functions.text import DELIM_CLASS

    k = len(tables)
    # array-of-arrays literal indexed by bucket+1 — same O(1)-vs-linear-map
    # rationale as hashed_linear_score's w_lit (r16 optimization): the old
    # map literal cost O(buckets) key comparisons per feature lookup.
    warr = F.array(
        *[F.array(*[F.lit(t[b]) for t in tables]) for b in range(buckets)]
    )
    zeros = F.array_repeat(F.lit(0).cast("long"), k)
    scores = F.aggregate(
        F.expr(unigram_bigram_feats_expr(text_col)),
        zeros,
        lambda acc, x: F.zip_with(
            acc, F.element_at(warr, _bucket(x, buckets) + 1), lambda a, w: a + w
        ),
    )
    ntok = F.size(
        F.filter(F.split(F.col(text_col), DELIM_CLASS), lambda x: x != "")
    ).cast("long")
    return df.select(
        "*",
        F.when(ntok >= 2, 2 * ntok - 1).otherwise(ntok).alias("n_features"),
        scores.alias(scores_col),
    ).filter(F.col("n_features") >= 1)


def hashed_multiclass_score(
    df: DataFrame,
    class_weights: list[tuple[str, list[int]]],
    text_col: str = "text",
    weight_scale: int = 1000,
) -> DataFrame:
    """Append (n_features, pred, margin): K-class argmax serving — the
    fastText-style language/domain-ID stage (CCNet, RefinedWeb) over the
    same hashed unigram+bigram features as :func:`hashed_linear_score`.

    ``class_weights``: ordered (label, integer table) pairs, all tables
    the same length; real weight of bucket b for class k is
    ``table_k[b] / weight_scale``. The K tables ride into the scan as ONE
    constant-folded array-of-arrays literal, so scoring all K
    classes is still a single tokenize + fold pass per document (the
    accumulator is an array<long> of K exact sums — K never multiplies
    the number of passes over the text). Ties break to the FIRST class in
    the given order (array_position returns the first maximum), a rule an
    oracle can mirror with a >=-chained CASE. Zero-token rows are dropped,
    same contract as the binary scorer. Margin is the winning class's
    mean feature weight — one double division, bit-exact cross-engine.

    Scale shape: zero shuffles, zero joins — the most-executed routing
    decision of a 100 TB pipeline stays inside the scan projection, and
    K*buckets literal ints (a few thousand) are well under literal-map
    limits."""
    if len(class_weights) < 2:
        raise ValueError("hashed_multiclass_score: need >= 2 classes")
    labels = [c for c, _ in class_weights]
    if len(set(labels)) != len(labels):
        raise ValueError(f"hashed_multiclass_score: duplicate labels {labels}")
    scored = hashed_table_scores(
        df, [w for _, w in class_weights], text_col, scores_col="_ws"
    )
    class_lit = F.array(*[F.lit(c) for c in labels])
    return scored.select(
        *df.columns,
        "n_features",
        F.element_at(
            class_lit,
            F.array_position(F.col("_ws"), F.array_max("_ws")).cast("int"),
        ).alias("pred"),
        (
            F.array_max("_ws")
            / (F.col("n_features") * F.lit(float(weight_scale)))
        ).alias("margin"),
    )


def train_hashed_logreg(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    buckets: int = 256,
    iters: int = 20,
    lr: float = 2.0,
    l2: float = 0.0,
) -> tuple[list[float], float, list[float]]:
    """Fit the hashed linear quality classifier by logistic regression.

    The fit side of ``hashed_linear_score`` (the kmeans_fit pattern:
    driver-bounded model state, corpus-sized work stays scan-side). Labels
    are strictly 0/1 (``label_col`` — anything else fails fast in-plan);
    features are mean-pooled hashed unigram+bigram counts
    (x_b = cnt_b / n_features), matching the serving operator's margin
    definition exactly.

    Per iteration, ONE Spark action AND one margin-fold evaluation per
    document: the current weights ride into the scan as a literal array,
    the per-document residual (sigmoid(margin + bias) - y) is computed
    scan-side, and everything downstream derives from the materialized
    residual attribute below the explode — including the log-loss, which
    for y in {0,1} is -log(1 - |resid|), so the fold is never re-evaluated
    (HOFs have no CSE). The gradient arrives as a ``buckets``-cardinality
    aggregation of (bucket, resid * x) partials — map-side combined, so
    shuffle bytes are O(buckets x partitions) regardless of corpus size.
    The bias gradient, the loss, and the document-count normalizer need no
    extra pass: mean-pooled features sum to 1 per document, so spreading
    resid/n, loss/n, and 1/n over a document's feature rows makes their
    global sums equal sum(resid), sum(loss), and N. Gradients are means
    over N (lr is corpus-size-invariant).

    Returns (weights, bias, per-iteration loss history). Serving export:
    mean-pooled features summing to 1 also means the bias FOLDS EXACTLY
    into the weight table — ``export_weights`` hands
    ``hashed_linear_score`` a table whose margin sign reproduces the
    trained decision boundary (up to integer quantization).
    """
    from ..functions.hashing import unigram_bigram_feats_expr

    w = [0.0] * buckets
    bias = 0.0
    history: list[float] = []
    feats = F.expr(unigram_bigram_feats_expr(text_col))
    label_guard = F.assert_true(
        (F.col("y") == 0.0) | (F.col("y") == 1.0),
        F.concat(
            F.lit("train_hashed_logreg: labels must be 0/1, got "),
            F.col("y").cast("string"),
        ),
    )
    docs = df.select(
        F.col(label_col).cast("double").alias("y"), feats.alias("fs")
    ).filter(F.size("fs") >= 1)

    def _guard_finite() -> None:
        # A diverged weight (too-large lr) would render as an 'infD'/'nanD'
        # literal and surface as an opaque SQL parse error — fail with the
        # real cause instead (ADVICE r12). Checked at every iteration top
        # AND after the loop: the final update is the one that produces the
        # RETURNED weights, and a divergence there would otherwise escape
        # to serving time (r13 review).
        if not all(math.isfinite(x) for x in w) or not math.isfinite(bias):
            raise ValueError(
                "train_hashed_logreg: weights diverged to inf/nan after "
                f"{len(history)} iterations — lower lr (got {lr}) or add l2"
            )

    for _ in range(iters):
        _guard_finite()
        # repr() round-trips exactly, so the literal the scan folds over is
        # the SAME float64 the driver holds (the kmeans literal contract)
        w_lit = F.expr("array(" + ",".join(f"{x!r}D" for x in w) + ")")
        margin = F.aggregate(
            F.col("fs"),
            F.lit(0.0),
            lambda acc, x: acc + F.element_at(w_lit, _bucket(x, buckets) + 1),
        ) / F.size("fs")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(margin + F.lit(bias))))
        scored = docs.select(
            "fs",
            F.when(label_guard.isNull(), p - F.col("y")).alias("resid"),
            F.size("fs").cast("double").alias("nf"),
        )
        # loss derives from the RESIDUAL attribute (for y in {0,1} the
        # correct-class probability is 1 - |resid|), evaluated above the
        # Generate where resid is already materialized — never a second
        # run of the O(n_features) fold (review r12).
        loss_term = -F.log(
            F.greatest(1 - F.abs(F.col("resid")), F.lit(1e-12))
        )
        parts = (
            scored.select(F.explode("fs").alias("f"), "resid", "nf")
            .groupBy(_bucket(F.col("f"), buckets).alias("b"))
            .agg(
                F.sum(F.col("resid") / F.col("nf")).alias("g"),
                F.sum(loss_term / F.col("nf")).alias("ls"),
                # one occurrence contributes 1/nf, so this sums to the
                # document count — the gradient normalizer rides along
                F.sum(F.lit(1.0) / F.col("nf")).alias("n"),
            )
            .collect()
        )
        n_docs = sum(r["n"] for r in parts)
        if n_docs == 0:
            break  # empty corpus: nothing to fit
        grad = [0.0] * buckets
        grad_b = 0.0
        loss = 0.0
        for r in parts:
            grad[r["b"]] = r["g"] / n_docs
            grad_b += r["g"] / n_docs
            loss += r["ls"] / n_docs
        w = [wi - lr * (gi + l2 * wi) for wi, gi in zip(w, grad)]
        bias -= lr * grad_b
        history.append(loss)
    _guard_finite()
    return w, bias, history


def export_weights(
    weights: list[float], bias: float, weight_scale: int = 1000
) -> list[int]:
    """Quantize a trained (weights, bias) pair into the integer table
    ``hashed_linear_score`` serves: because mean-pooled features sum to 1,
    margin + bias == mean of (w_b + bias), so the bias folds into every
    entry exactly and the served sign(margin) reproduces the trained
    decision boundary up to the 1/weight_scale quantization grid."""
    return [round((x + bias) * weight_scale) for x in weights]

