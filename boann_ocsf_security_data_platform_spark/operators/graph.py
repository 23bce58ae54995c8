"""Iterative graph algorithms as DataFrame loops.

Web-graph PageRank is a standard document-quality prior in pretraining
pipelines (a page's rank over the crawl link graph feeds the keep/drop
decision); the connected-components family lives with its consumer in
``operators.dedup``. The pattern here is the scalable iterative-algorithm
shape on Spark: each round is one equi-join + one map-side-combinable
aggregate, bounded model state (per-node rank) flows round to round via
``localCheckpoint`` (cuts the exponentially growing lineage), and only
single-row scalars (the dangling mass) ever touch the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import cache_scope, materialize
from .gates import merge_pinned


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iters: int = 3,
    decimals: int = 8,
) -> DataFrame:
    """Weighted PageRank with uniform teleport and proper dangling-mass
    redistribution, run for a FIXED ``iters`` rounds (deterministic — the
    fixed-round form every batch pipeline uses, and the form a SQL oracle
    can replay exactly).

    Per round: ``r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)·w_uv/W_u + D/N)`` where
    ``W_u`` is u's total out-weight and ``D`` the rank mass sitting on
    dangling nodes (no out-edges). Ranks round to ``decimals`` each round
    so engine-specific summation-order ULPs cannot compound across
    iterations.

    Scale: the per-round work is one join of the edge list against the
    rank table keyed by source (both partitioned by node id — at 1000
    executors this is a co-partitionable hash join; pre-bucket the edge
    list by ``src`` and the rank side is the only shuffle) and one
    aggregate keyed by destination. N is a bounded driver scalar (graph
    order); the dangling mass D is a broadcast one-row frame, so each
    iteration is exactly one materializing job. Returns
    ``(node, pagerank)`` for every node in the graph.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1.0))
        .cast("double")
        .alias("w"),
    )
    with cache_scope():
        e = materialize(
            e.groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        nodes = materialize(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n = nodes.count()  # bounded scalar: graph order, not data volume
        outw = materialize(e.groupBy("src").agg(F.sum("w").alias("w_out")))
        ranks = nodes.select(
            "node", F.round(F.lit(1.0 / n), decimals).alias("r")
        ).localCheckpoint(eager=True)
        teleport = (1.0 - damping) / n
        for _ in range(iters):
            # the dangling mass rides a broadcast ONE-ROW frame instead of a
            # driver collect, so each iteration is a single job (the
            # checkpoint materialization) rather than collect + recompute
            dangling = (
                ranks.join(outw, ranks.node == outw.src, "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("_dang"))
            )
            contrib = (
                e.join(ranks, e.src == ranks.node)
                .join(outw, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("r") * F.col("w") / F.col("w_out")).alias("c"))
            )
            ranks = (
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .join(F.broadcast(dangling))
                .select(
                    "node",
                    F.round(
                        F.lit(teleport)
                        + F.lit(damping)
                        * (F.coalesce("c", F.lit(0.0)) + F.col("_dang") / F.lit(float(n))),
                        decimals,
                    ).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
    return ranks.select("node", F.col("r").alias("pagerank"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Exact triangle count of an undirected graph via degree-ordered
    wedge enumeration (the MapReduce formulation of Cohen'09 / node-
    iterator++): orient every edge from its lower-(degree, id) endpoint to
    the higher one, enumerate wedges only at each edge's SOURCE (so a hub
    of degree d generates O(d_out²) wedges with d_out = O(√m) instead of
    O(d²) — the skew killer for power-law graphs), then close each wedge
    with one equi-join back to the oriented edge list.

    Input edges may list either endpoint first and may contain duplicates;
    they are canonicalized and deduplicated. Self-loops are dropped.
    Returns a single row ``(n_nodes, n_edges, n_triangles)``.

    Scale: two shuffles (degree aggregate, wedge↔edge equi-join on the
    wedge endpoints) plus one broadcast of the bounded degree table per
    edge partition is avoided by joining degrees by key — at 1000
    executors both joins hash-partition on node/endpoint-pair keys, and
    the wedge fan-out bound keeps the intermediate ≤ O(m^1.5) regardless
    of degree skew. A plain (a<b<c) 3-way self-join — the oracle
    formulation — is quadratic in the hottest vertex's degree instead.
    """
    a, b = F.col(src_col), F.col(dst_col)
    with cache_scope():
        canon = materialize(
            edges.where(a != b)
            .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
            .distinct()
        )
        deg = (
            canon.select(F.col("u").alias("node"))
            .unionAll(canon.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        du, dv = deg.alias("du"), deg.alias("dv")
        ranked = (
            canon.join(merge_pinned(du, pin_shuffle_join), F.col("u") == F.col("du.node"))
            .join(merge_pinned(dv, pin_shuffle_join), F.col("v") == F.col("dv.node"))
            .select(
                "u",
                "v",
                F.struct(
                    F.col("du.deg").alias("d"), F.col("u").alias("x")
                ).alias("ru"),
                F.struct(
                    F.col("dv.deg").alias("d"), F.col("v").alias("x")
                ).alias("rv"),
            )
        )
        # orient low-rank -> high-rank; keep the rank of the head so wedge
        # legs can be ordered without re-joining degrees
        oriented = materialize(
            ranked.select(
                F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("a"),
                F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("b"),
                F.when(F.col("ru") < F.col("rv"), F.col("rv")).otherwise(F.col("ru")).alias("rb"),
            )
        )
        e1, e2 = oriented.alias("e1"), oriented.alias("e2")
        wedges = e1.join(merge_pinned(e2, pin_shuffle_join), F.col("e1.a") == F.col("e2.a")).where(
            F.col("e1.rb") < F.col("e2.rb")
        )
        # the closing edge {b1,b2} is oriented b1->b2 because rank(b1)<rank(b2)
        closing = oriented.select(
            F.col("a").alias("cb1"), F.col("b").alias("cb2")
        )
        tri = wedges.join(
            merge_pinned(closing, pin_shuffle_join),
            (F.col("e1.b") == F.col("cb1")) & (F.col("e2.b") == F.col("cb2")),
        ).count()
        n_nodes = deg.count()
        n_edges = canon.count()
        result = canon.sparkSession.createDataFrame(
            [(n_nodes, n_edges, tri)], "n_nodes long, n_edges long, n_triangles long"
        )
    return result


def local_clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Per-node local clustering coefficient cc(v) = 2*t(v) /
    (deg(v)*(deg(v)-1)) — how close each node's neighborhood is to a
    clique, the node-level cohesion statistic behind small-world /
    community analyses (triangle_count gives the global total; this
    attributes each triangle to all three corners).

    Same degree-ordered wedge enumeration as :func:`triangle_count`
    (orient low-(degree,id) -> high, wedges only at the low corner, one
    equi-join closes them — O(m^1.5) regardless of skew); each closed
    triangle (a, b1, b2) is then exploded to its three corners and
    hash-counted per node. Nodes of degree < 2 have cc = 0 by
    convention. Returns ``(node, deg, triangles, cc)``.

    Scale: identical shuffle profile to triangle_count plus one extra
    map-combinable per-node aggregate over the triangle list — the
    explode is 3 rows per triangle, bounded by the wedge-closure output,
    never by n^2.
    """
    a, b = F.col(src_col), F.col(dst_col)
    canon = (
        edges.where(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    ranked = (
        canon.join(merge_pinned(du, pin_shuffle_join), F.col("u") == F.col("du.node"))
        .join(merge_pinned(dv, pin_shuffle_join), F.col("v") == F.col("dv.node"))
        .select(
            "u",
            "v",
            F.struct(
                F.col("du.deg").alias("d"), F.col("u").alias("x")
            ).alias("ru"),
            F.struct(
                F.col("dv.deg").alias("d"), F.col("v").alias("x")
            ).alias("rv"),
        )
    )
    oriented = ranked.select(
        F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(F.col("ru") < F.col("rv"), F.col("rv")).otherwise(F.col("ru")).alias("rb"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(merge_pinned(e2, pin_shuffle_join), F.col("e1.a") == F.col("e2.a")).where(
        F.col("e1.rb") < F.col("e2.rb")
    )
    closing = oriented.select(
        F.col("a").alias("cb1"), F.col("b").alias("cb2")
    )
    tris = wedges.join(
        merge_pinned(closing, pin_shuffle_join),
        (F.col("e1.b") == F.col("cb1")) & (F.col("e2.b") == F.col("cb2")),
    ).select(
        F.col("e1.a").alias("c0"),
        F.col("e1.b").alias("c1"),
        F.col("e2.b").alias("c2"),
    )
    per_node = (
        tris.select(F.explode(F.array("c0", "c1", "c2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(merge_pinned(per_node, pin_shuffle_join), "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("cc"),
        )
    )
    return out


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for community
    detection, in the deterministic fixed-round form a SQL oracle can
    replay: labels start as node ids; each round every node adopts the
    most frequent label among its neighbors, ties broken toward the
    SMALLEST label (the usual deterministic LPA variant — async/random
    tie-breaks don't reproduce across engines). Edges are treated as
    undirected; isolated endpoints cannot occur (every node is on an
    edge).

    Scale: per round = one equi-join of the (both-direction) edge list
    against the label table keyed by neighbor + one (node, label) count
    aggregate + one per-node argmax via map-side-cut window
    (WindowGroupLimit) — the same join/agg shape as PageRank, with
    ``localCheckpoint`` truncating lineage between rounds. Returns
    ``(node, label)``.
    """
    both = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).unionAll(
        edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
    )
    with cache_scope():
        e = materialize(both.distinct())
        labels = (
            e.select(F.col("a").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
            .localCheckpoint(eager=True)
        )
        from pyspark.sql import Window

        for _ in range(iters):
            counted = (
                e.join(labels, e.b == labels.node)
                .groupBy("a", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            w = Window.partitionBy("a").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
            labels = (
                counted.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(F.col("a").alias("node"), "label")
                .localCheckpoint(eager=True)
            )
    return labels


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> list[tuple[int, int, int]]:
    """Bounded-round k-core peeling: each round drops every node with
    degree < k and the edges touching it — the standard graph-cleaning
    pass (peel leaves/tendrils before community detection; full k-core =
    peel to fixpoint, and the fixed-round form is the deterministic,
    oracle-replayable prefix of it). Returns the trajectory
    ``[(round, n_nodes, n_edges), ...]`` — bounded scalars, the data
    stays distributed.

    Scale: each round is one degree aggregate + two semi-joins of the
    edge list against the surviving-node set (all keyed on node id);
    ``localCheckpoint`` truncates lineage between rounds like the other
    iterative operators. Rounds-to-fixpoint is bounded by the graph's
    degeneracy ordering depth; in practice a handful of rounds removes
    the overwhelming majority of sub-core structure.
    """
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.where(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = []
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_edges = e.count()
        n_nodes = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .distinct()
            .count()
        )
        out.append((r, n_nodes, n_edges))
    return out


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    k: int = 50,
    pin_shuffle_join: bool = True,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction (Liben-Nowell & Kleinberg
    2003): score every NON-adjacent node pair sharing >= ``min_common``
    neighbors by |N(u) ∩ N(v)| / |N(u) ∪ N(v)|, return the top ``k``
    candidate links (ties: ascending pair ids).

    Input: undirected edge list (one row per edge, either orientation).
    Shapes: symmetrize + distinct, wedge self-join on the shared
    neighbor (the triangle-count join — candidate pairs exist only
    through common neighbors, so work is Σ deg², the wedge bound, not
    |V|²), one count aggregate, degree table joined twice, existing
    edges anti-joined out, TakeOrderedAndProject cut. All equi-joins —
    skew lives in high-degree hubs; cap with degree filtering upstream
    exactly like triangle counting at 100 TB.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = materialize(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        sym.alias("x")
        .join(merge_pinned(sym.alias("y"), pin_shuffle_join), F.col("x.v") == F.col("y.v"))
        .filter(F.col("x.u") < F.col("y.u"))
        .groupBy(F.col("x.u").alias("ua"), F.col("y.u").alias("ub"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    non_adj = wedges.join(
        merge_pinned(
            sym.select(F.col("u").alias("ua"), F.col("v").alias("ub")),
            pin_shuffle_join,
        ),
        ["ua", "ub"],
        "left_anti",
    )
    scored = (
        non_adj.join(
            merge_pinned(
                deg.select(F.col("u").alias("ua"), F.col("deg").alias("da")),
                pin_shuffle_join,
            ),
            "ua",
        )
        .join(
            merge_pinned(
                deg.select(F.col("u").alias("ub"), F.col("deg").alias("db")),
                pin_shuffle_join,
            ),
            "ub",
        )
        .select(
            "ua",
            "ub",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    out = scored.orderBy(
        F.desc("jaccard"), F.asc("ua"), F.asc("ub")
    ).limit(k)
    # the caller's cache_scope releases sym, as for the LSH/banding operators
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iters: int = 3,
    decimals: int = 8,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): identical
    fixed-round iteration to :func:`pagerank` except the teleport AND the
    dangling mass return to the SEED distribution p (uniform over
    ``seeds``) instead of uniform over all nodes —
    ``r'(v) = (1−d)·p(v) + d·(Σ contrib + D·p(v))``. The
    relevance-to-a-query-set primitive behind related-entity ranking and
    local community scoring (Jeh & Widom 2003). ``seeds`` is a bounded
    model parameter inlined as a literal predicate; everything else keeps
    the pagerank plan shape (one edges⋈ranks join + one aggregate per
    round, dangling mass on a broadcast one-row frame, per-round rounding
    to kill cross-engine ULP drift)."""
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1.0))
        .cast("double")
        .alias("w"),
    )
    with cache_scope():
        e = materialize(e.groupBy("src", "dst").agg(F.sum("w").alias("w")))
        nodes = materialize(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        outw = materialize(e.groupBy("src").agg(F.sum("w").alias("w_out")))
        p_v = F.when(
            F.col("node").isin([int(s) for s in seeds]),
            F.lit(1.0 / len(seeds)),
        ).otherwise(F.lit(0.0))
        ranks = nodes.select(
            "node", F.round(p_v, decimals).alias("r")
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            dangling = ranks.join(outw, ranks.node == outw.src, "left_anti").agg(
                F.coalesce(F.sum("r"), F.lit(0.0)).alias("_dang")
            )
            contrib = (
                e.join(ranks, e.src == ranks.node)
                .join(outw, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("r") * F.col("w") / F.col("w_out")).alias("c"))
            )
            ranks = (
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .join(F.broadcast(dangling))
                .select(
                    "node",
                    F.round(
                        F.lit(1.0 - damping) * p_v
                        + F.lit(damping)
                        * (
                            F.coalesce("c", F.lit(0.0))
                            + F.col("_dang") * p_v
                        ),
                        decimals,
                    ).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
    return ranks.select("node", F.col("r").alias("ppr"))


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 2,
    decimals: int = 8,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) with fixed rounds and
    L1 normalization: ``a(v) = Σ_{(u,v)} w·h(u)`` then ``h(u) =
    Σ_{(u,v)} w·a(v)``, each half-step normalized to sum 1 and rounded
    — the mutually-reinforcing link-analysis primitive (who POINTS AT
    the good stuff vs who IS the good stuff) that PageRank's single
    score cannot separate; on a trade graph it splits big buyers from
    big sellers.

    Plan shape per half-step: one edges⋈scores equi-join + one
    map-combinable aggregate, the L1 normalizer on a broadcast one-row
    frame, per-round rounding to kill cross-engine ULP drift, and a
    localCheckpoint lineage cut — the same iterative recipe as
    :func:`pagerank` / :func:`personalized_pagerank`, so the 100 TB
    posture is identical (no all-pairs, no driver collects; cost is
    iters × (join + agg) shuffles on the edge key)."""
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1.0))
        .cast("double")
        .alias("w"),
    )
    with cache_scope():
        e = materialize(e.groupBy("src", "dst").agg(F.sum("w").alias("w")))
        nodes = materialize(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n_nodes = nodes.count()
        hubs = nodes.select(
            "node", F.round(F.lit(1.0 / n_nodes), decimals).alias("h")
        ).localCheckpoint(eager=True)
        auths = None
        for _ in range(iters):
            raw_a = (
                e.join(hubs, e.src == hubs.node)
                .groupBy("dst")
                .agg(F.sum(F.col("w") * F.col("h")).alias("ra"))
            )
            norm_a = raw_a.agg(F.sum("ra").alias("_na"))
            auths = (
                nodes.join(raw_a, nodes.node == raw_a.dst, "left")
                .join(F.broadcast(norm_a))
                .select(
                    "node",
                    F.round(
                        F.coalesce("ra", F.lit(0.0)) / F.col("_na"), decimals
                    ).alias("a"),
                )
                .localCheckpoint(eager=True)
            )
            raw_h = (
                e.join(auths, e.dst == auths.node)
                .groupBy("src")
                .agg(F.sum(F.col("w") * F.col("a")).alias("rh"))
            )
            norm_h = raw_h.agg(F.sum("rh").alias("_nh"))
            hubs = (
                nodes.join(raw_h, nodes.node == raw_h.src, "left")
                .join(F.broadcast(norm_h))
                .select(
                    "node",
                    F.round(
                        F.coalesce("rh", F.lit(0.0)) / F.col("_nh"), decimals
                    ).alias("h"),
                )
                .localCheckpoint(eager=True)
            )
        out = hubs.join(auths, "node").select(
            "node", F.col("h").alias("hub"), F.col("a").alias("authority")
        )
    return out


def bellman_ford_sssp(
    edges: DataFrame,
    source,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    iters: int = 5,
    decimals: int = 6,
) -> DataFrame:
    """Single-source shortest paths by a FIXED number of Bellman-Ford
    relaxation rounds over the min-plus semiring — the iterative-graph
    shape that covers weighted reachability, latency budgets, and
    cheapest-route rollups where PageRank's sum-times covers influence.

    Per round: ``d'(v) = min(d(v), min_{u→v} d(u) + w_uv)`` — one
    edge⋈distance equi-join keyed by the source node plus one min
    aggregate keyed by the destination, the same
    one-join-one-agg-per-round recipe as :func:`pagerank`, with
    ``localCheckpoint`` truncating lineage between rounds. Distances
    round to ``decimals`` per round so engine summation ULPs cannot flip
    a later min. ``iters`` bounds the relaxation like the fixed-round
    PageRank (k rounds ≡ exact distances over paths of ≤ k hops — enough
    for bounded-diameter graphs, and exactly replayable by an unrolled
    SQL oracle). Unreached nodes keep NULL distance.

    Scale: the distance table is one row per node; each round shuffles
    the edge list once on ``src`` (pre-bucket it by src and only the
    small distance side moves), so cost is O(iters · |E|) — never
    materializing paths.
    """
    with cache_scope():
        e = materialize(
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("double").alias("w"),
            )
        )
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        dist = nodes.select(
            "node",
            F.when(F.col("node") == source, F.lit(0.0)).alias("d"),
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            relaxed = (
                e.join(dist, e.src == dist.node)
                .filter(F.col("d").isNotNull())
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("d") + F.col("w")).alias("cand"))
            )
            dist = (
                dist.join(relaxed, "node", "left")
                .select(
                    "node",
                    # explicit NULL ladder (unreached / no-candidate) — engine
                    # least() NULL semantics differ, so never feed it a NULL
                    F.round(
                        F.when(F.col("d").isNull(), F.col("cand"))
                        .when(F.col("cand").isNull(), F.col("d"))
                        .otherwise(F.least("d", "cand")),
                        decimals,
                    ).alias("d"),
                )
                .localCheckpoint(eager=True)
            )
    return dist.select("node", F.col("d").alias("distance"))
