"""Graph analytics beyond connected components: PageRank (EXT).

The iterative-linear-algebra shape on Spark — same driver-loop-over-
declarative-rounds family as dedup's label propagation and BPE's merge
rounds, but with float state: each iteration is one join of the edge list
against the current rank vector, a groupBy-sum of contributions, and a
left join back onto the node set. Nothing corpus-sized collects; per-round
shuffles carry (node, rank) pairs and the edge relation's (src, dst) keys.

Scale notes:
  - Edges and the node set are materialized ONCE (localCheckpoint), so
    every round replays materialized blocks instead of re-deriving the
    graph (the components lesson: 1.4x at 2M edges, see
    ``operators.dedup._prepare_edges``).
  - Undirected use (edges emitted in both directions) guarantees every
    node in the edge list has outdegree >= 1, so no dangling-mass term is
    needed; rank mass is exactly conserved at every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import fixpoint


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over an edge list; returns (node, rank).

    ``edges`` rows are directed (src -> dst); pass both directions for an
    undirected graph. Every src must also appear as a node (true by
    construction here: nodes = src UNION dst), and there must be no
    dangling nodes receiving rank they cannot redistribute — emit
    undirected edges to guarantee it. Ranks start uniform and sum to 1.0
    after every round (conservation is what the tests pin).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()  # one scalar action over the (bounded) node set
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    r = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            e.join(r, e["src"] == r["node"])
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return r


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph; returns (node, triangles) for every node in at least one
    triangle (zero-triangle nodes are omitted — join back onto the node
    set if a dense report is needed).

    Degree-ordered orientation (the classic MapReduce triangle-counting
    shape, Suri & Vassilvitskii WWW'11 / Cohen's MR graph patterns —
    public literature): orient every undirected edge from its lower
    (degree, id) endpoint to its higher one, generate wedges only at the
    LOW endpoint, then close each wedge against the oriented edge set.
    The orientation bounds every node's out-degree by O(sqrt(m)) on any
    graph, so wedge fan-out is O(m^1.5) worst-case instead of
    sum(deg^2) — the hub that dominates a co-occurrence graph (a "bought
    with everything" item) generates ~zero wedges because almost all of
    its edges point INTO it. Each triangle is emitted exactly once (its
    vertices are totally ordered by rank).

    At 100 TB both joins are plain key-shuffles on node ids: wedges
    shuffle on the (v, w) candidate pair to meet the oriented edge list;
    nothing is collected and no adjacency list is ever materialized
    per-node (the per-node collect_list variant OOMs on hubs; this one
    cannot). Determinism: exact integer counts only.
    """
    # canonical undirected edge set: a < b, self-loops dropped
    canon = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()  # consumers: degree agg, orientation join, closing probe
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge low-rank -> high-rank, rank = (deg, id)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        canon.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
        .localCheckpoint()  # consumed twice: both wedge sides (w1/w2)
    )
    w1 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("v"))
    w2 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("w"))
    # wedges at the low-rank apex, endpoints normalized to id order so each
    # unordered wedge appears once; the closing probe is simply `canon` —
    # the id-ordered undirected edge set (re-orienting it by rank and
    # normalizing back would reproduce canon row for row)
    wedges = (
        w1.join(w2, "apex")
        .where(F.col("v") < F.col("w"))
        .select(
            "apex",
            F.col("v").alias("p"),
            F.col("w").alias("q"),
        )
    )
    closing = canon.select(F.col("a").alias("p"), F.col("b").alias("q"))
    tri = wedges.join(closing, ["p", "q"])  # (apex, p, q) = one triangle each
    members = (
        tri.select(F.col("apex").alias("node"))
        .union(tri.select("p"))
        .union(tri.select("q"))
    )
    return (
        members.groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
        .orderBy("node")
    )


def kcore_nodes(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """Bounded-round k-core peel over an undirected simple graph: returns
    (node, core_degree) for every node surviving ``max_rounds`` rounds of
    "remove nodes whose degree in the surviving induced subgraph is < k"
    (Seidman's k-core / Matula-Beck degeneracy peel — public literature;
    in data pipelines: prune weakly-connected entities before community or
    quality analysis). ``core_degree`` is the node's degree within the
    final induced subgraph, ordered by node.

    Observability: a silently-unconverged peel returns a plausible-looking
    SUPERSET of the true k-core — at 100 TB nobody eyeballs that. A peel
    that reaches ``max_rounds`` without a fixpoint emits a
    ``RuntimeWarning``. The survivor counts that decide it are the ones
    the loop materializes anyway — zero extra jobs. The rounds a peel ran
    show up as its Spark jobs, which the bench's per-row ``layers`` record
    counts (``driver.jobs``).

    BOUNDED rounds, not until-convergence, is the contract: the registry
    oracle unrolls the identical rounds as chained SQL CTEs, so the two
    sides agree round-for-round whether or not a fixpoint was reached. The
    loop does stop early at a fixpoint (survivor count unchanged) — a
    converged peel equals any longer one, so early-stop preserves oracle
    equality; pytest pins that the driver-SF graphs converge well inside
    the bound (a worst-case path graph needs O(N) rounds — raising
    max_rounds is the lever, each round is one bounded shuffle pass).

    Per round at 100 TB: two node-keyed semi-joins restrict the
    checkpointed edge relation to surviving endpoints, one count-per-
    endpoint aggregation recomputes degrees. ``session.fixpoint`` pins the
    survivors per round and releases the round before, so lineage stays one
    round deep; driver state is a single integer (survivor count) per round.
    """
    canon = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()  # replayed every round (two joins + degree agg)
    )

    def degrees(surv: DataFrame) -> DataFrame:
        live = (
            canon.join(surv.select(F.col("node").alias("a")), "a", "semi")
            .join(surv.select(F.col("node").alias("b")), "b", "semi")
        )
        return (
            live.select(F.col("a").alias("node"))
            .union(live.select("b"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    surv = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select("b"))
        .distinct()
        .localCheckpoint()
    )
    n_prev = surv.count()

    def settled(pin: DataFrame) -> bool:
        nonlocal n_prev
        n, was = pin.count(), n_prev
        n_prev = n
        return n == was or n == 0  # fixpoint (an empty peel cannot shrink)

    surv = fixpoint(
        surv,
        lambda s: degrees(s).filter(F.col("deg") >= k).select("node"),
        settled,
        max_rounds,
        "kcore_nodes peel",
    )
    return (
        degrees(surv)
        .select("node", F.col("deg").alias("core_degree"))
        .orderBy("node")
    )
