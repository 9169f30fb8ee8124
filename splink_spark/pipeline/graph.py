"""Iterative graph algorithms beyond connected components: PageRank over
an edge table (e.g. the near-duplicate graph from ``dedup`` — centrality
picks better canonical documents than min-id when clusters are large).

Exactness trick (same family as the engine's exact-int64 k-means and
TF-IDF micro-units): ranks live in integer MILLIONTHS and every update
uses integer division with truncation — no float summation order to
diverge, so any SQL engine replays the iteration bit-for-bit and the
driver's DuckDB oracle can unroll the loop exactly.

Scale shape per iteration: one equi-join of the (degree-annotated,
persisted) edge list against the current rank table on the source id,
one map-side-combined groupBy on the destination id. The edge list is
read once per iteration from cache; iteration count is a small constant
(PageRank needs ~10-20 for convergence; the default 5 is a ranking, not
a fixpoint). Driver holds nothing but the loop counter.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "label_propagation",
    "triangle_count",
    "common_neighbors",
    "k_core",
    "link_prediction_scores",
    "bipartite_project",
]

UNIT = 1_000_000  # rank fixed-point denominator (millionths)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_millionths: int = 850_000,
    undirected: bool = True,
) -> DataFrame:
    """Integer-quantized PageRank. Returns (node, rank_units, rank) where
    ``rank_units`` is the exact int64 fixed-point value (millionths; the
    cross-engine-reproducible number) and ``rank`` its float rendering.

    Update rule per node v:
    ``r'(v) = (UNIT - d) + d * sum_{u->v} (r(u) div deg(u)) div UNIT``
    with all divisions truncating integer division. Isolated sources
    contribute nothing; every node listed in the edge table receives the
    teleport term. ``undirected=True`` mirrors each edge.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    d = int(damping_millionths)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # degree-annotated edges are the loop invariant: persist once, reuse
    ed = e.join(deg, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    ranks = nodes.select("node", F.lit(UNIT).cast("bigint").alias("__r"))
    for _ in range(int(iterations)):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("__r div __deg").alias("__c"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("__c").alias("__s"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(UNIT - d).cast("bigint")
                    + F.expr(f"({d} * coalesce(__s, 0)) div {UNIT}")
                ).alias("__r"),
            )
        )
    return ranks.select(
        "node",
        F.col("__r").alias("rank_units"),
        F.round(F.col("__r") / F.lit(float(UNIT)), 6).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    undirected: bool = True,
) -> DataFrame:
    """Synchronous label-propagation community detection: labels start as
    the node id; each iteration every node adopts its neighbours' most
    frequent label, ties broken by the SMALLEST label — fully
    deterministic, so the driver oracle replays the unrolled iterations
    exactly. (Classic asynchronous LPA is order-dependent; the synchronous
    + min-tie variant trades a little convergence speed for
    reproducibility, the same determinism bargain as the engine's
    single-best-links tie rules.)

    Per iteration: one join of the cached edge list against the current
    label table, one map-side-combined count per (node, label), one
    max_by per node. Isolated nodes keep their own label.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(int(iterations)):
        neigh = e.join(labels, e["src"] == labels["node"]).select(
            F.col("dst"), F.col("label")
        )
        counts = neigh.groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        # most frequent label, smallest label on ties: maximize (c, -label)
        best = counts.groupBy("dst").agg(
            F.max_by(
                "label", F.struct(F.col("__c"), (-F.col("label")).alias("nl"))
            ).alias("new_label")
        )
        labels = nodes.join(best, nodes["node"] == best["dst"], "left").select(
            "node", F.coalesce("new_label", F.col("node")).alias("label")
        )
    return labels


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    per_node: bool = False,
) -> DataFrame:
    """Exact triangle counting by degree orientation (the MapReduce
    wedge-closing scheme of Suri & Vassilvitskii, WWW'11): orient every
    undirected edge from its lower (degree, id) endpoint to the higher
    one, build wedges only at each node's OUTGOING pairs, and close them
    against the oriented edge set. Every triangle is counted exactly once
    (at its minimum-(degree, id) vertex).

    Why this survives power-law skew at 100 TB: naive wedge counting
    generates deg² wedges at every hub — a 1M-degree node alone yields
    5·10¹¹ join rows. Under degree orientation a node's OUT-degree is
    O(√m) for any graph, so the superlinear step is bounded regardless of
    hubs; everything else is equi-joins and map-side-combined aggregations
    on the edge key.

    Execution (the "forward" edge-iterator form of the same oriented
    algorithm): instead of materializing every wedge (u, x, y) and
    shuffling Σ dout² rows into a closure join (41M wedge rows for the
    1.2M-edge gate graph), group the oriented edges into per-node
    out-neighbour arrays and compute, per oriented edge (u, v),
    ``|N+(u) ∩ N+(v)|`` with a JVM array intersect — the triangles whose
    source is u, middle v, sink the common neighbour. Each triangle is
    found exactly once (orientation is a total order, so a triangle's
    three corners give exactly one source/middle/sink split). Total
    per-task work is the same Σ dout² the wedge join had, but it stays
    inside one codegen stage instead of crossing a shuffle; the adjacency
    table (one row per node, Σ dout total entries) broadcasts when small
    and sort-merge-joins otherwise.

    Returns one row ``(n_triangles)``, or with ``per_node=True`` one row
    per node: ``(node, degree, triangles, lcc)`` where ``lcc`` is the
    local clustering coefficient ``2·t / (d·(d-1))`` (0.0 for degree < 2),
    rounded to 6 dp.
    """
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    # canon is read FOUR times (degree union x2, orientation, closure):
    # persist it, or an expensive upstream (e.g. a co-occurrence
    # self-join) re-executes per branch
    canon = (
        edges.select(a, b).where(F.col("a") != F.col("b")).distinct().persist()
    )
    und = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), "d"
    )
    # one bounded probe drives both join-strategy decisions below (the
    # count doubles as canon's cache materialization)
    n_edges = canon.count()
    graph_small = n_edges <= 8_000_000
    # orient u -> v iff (deg(u), u) < (deg(v), v): join both endpoint
    # degrees onto the canonical edge, pick direction by struct comparison.
    # The degree table has one narrow row per node — broadcast it while
    # small so neither orientation join shuffles the edge table.
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    if graph_small:
        da, db = F.broadcast(da), F.broadcast(db)
    withdeg = canon.join(da, "a").join(db, "b")
    lower_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    oriented = withdeg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    adj = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("__nbrs")
    )
    # adjacency entries == oriented edges; broadcast while the packed
    # arrays are comfortably under the executor-memory bar, SMJ beyond
    adj_u = adj.select("u", F.col("__nbrs").alias("__nu"))
    adj_v = adj.select(F.col("u").alias("v"), F.col("__nbrs").alias("__nv"))
    if graph_small:
        adj_u, adj_v = F.broadcast(adj_u), F.broadcast(adj_v)
    # every u has out-edges by construction (inner join); a sink v has no
    # adjacency row (left join + empty-array coalesce)
    closed = (
        oriented.join(adj_u, "u")
        .join(adj_v, "v", "left")
        .select(
            "u",
            "v",
            F.array_intersect(
                F.col("__nu"), F.coalesce(F.col("__nv"), F.expr("array()"))
            ).alias("__common"),
        )
    )
    if not per_node:
        return closed.agg(
            F.coalesce(F.sum(F.size("__common")), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    # one scan of the closure: per oriented edge emit (source, t),
    # (middle, t) and one (sink, 1) per common neighbour in a single
    # exploded contribution array — a 3-way union would re-execute the
    # whole closure pipeline once per branch
    contrib = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        F.size("__common").alias("__t"),
                    ),
                    F.struct(
                        F.col("v").alias("node"),
                        F.size("__common").alias("__t"),
                    ),
                ),
                F.transform(
                    "__common",
                    lambda c: F.struct(
                        c.alias("node"), F.lit(1).alias("__t")
                    ),
                ),
            )
        ).alias("__c")
    ).select(F.col("__c.node").alias("node"), F.col("__c.__t").alias("__t"))
    tcount = (
        contrib.groupBy("node")
        .agg(F.sum("__t").cast("bigint").alias("triangles"))
        .where(F.col("triangles") > 0)
    )
    out = deg.join(tcount, "node", "left")
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint")
    d = F.col("d").cast("double")
    lcc = F.when(
        F.col("d") >= 2,
        F.round(F.lit(2.0) * t.cast("double") / (d * (d - F.lit(1.0))), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "node",
        F.col("d").alias("degree"),
        t.alias("triangles"),
        lcc.alias("lcc"),
    )


def common_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    include_jaccard: bool = True,
    max_degree: Union[int, str, None] = "auto",
    auto_cap: int = 20_000,
    round_to: int = 6,
) -> DataFrame:
    """Link-prediction candidates: node pairs sharing at least
    ``min_common`` neighbours, with the neighbour-set Jaccard
    ``|N(a) ∩ N(b)| / |N(a) ∪ N(b)|``. One wedge self-join (each shared
    neighbour contributes one (a, b) count) + a map-side-combined pair
    count + two degree joins.

    Skew honesty: a degree-d node REALLY creates d·(d-1)/2 candidate
    pairs — that quadratic is the semantics, not a plan artifact, so no
    orientation trick can remove it (unlike ``triangle_count``, which
    only needs each triangle once). ``max_degree`` is the standard
    mitigation: drop super-hub APEX nodes from wedge building (a node
    connected to everything predicts nothing anyway — stopword removal
    for graphs). Exact when ``max_degree=None``; with a cap, pairs lose
    only the capped apexes' contributions — deterministic either way.

    The DEFAULT is ``max_degree="auto"``: one cheap max-degree probe; if
    the largest hub exceeds ``auto_cap`` the cap engages at ``auto_cap``
    with a ``UserWarning`` (a 100k-degree hub alone is 5e9 wedges —
    the default path must not detonate at scale), otherwise the result
    is exact. Pass ``max_degree=None`` to force exactness regardless.

    Returns (``node_a``, ``node_b``, ``n_common``[, ``jaccard``]),
    ``node_a < node_b``, adjacency of the pair itself not required.
    """
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    # persisted for the same multi-branch reason as triangle_count
    canon = (
        edges.select(a, b).where(F.col("a") != F.col("b")).distinct().persist()
    )
    und = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), "d"
    )
    if max_degree == "auto":
        row = deg.agg(F.max("d").alias("mx")).collect()
        mx = int(row[0]["mx"] or 0) if row else 0
        if mx > int(auto_cap):
            import warnings

            warnings.warn(
                f"common_neighbors: max degree {mx} exceeds auto_cap="
                f"{auto_cap}; capping wedge apexes at {auto_cap} "
                f"(a degree-d apex builds d*(d-1)/2 candidate pairs). "
                f"Pass max_degree=None for the exact quadratic result.",
                UserWarning,
                stacklevel=2,
            )
            max_degree = int(auto_cap)
        else:
            max_degree = None
    apex = und  # (a=apex, b=neighbour) both directions
    if max_degree is not None:
        keep = deg.where(F.col("d") <= int(max_degree)).select(
            F.col("node").alias("a")
        )
        apex = apex.join(keep, "a")
    n1 = apex.select(F.col("a").alias("u"), F.col("b").alias("x"))
    n2 = apex.select(F.col("a").alias("u"), F.col("b").alias("y"))
    wedges = n1.join(n2, "u").where(F.col("x") < F.col("y"))
    pairs = wedges.groupBy(
        F.col("x").alias("node_a"), F.col("y").alias("node_b")
    ).agg(F.count(F.lit(1)).alias("n_common"))
    pairs = pairs.where(F.col("n_common") >= int(min_common))
    if not include_jaccard:
        return pairs
    da = deg.select(F.col("node").alias("node_a"), F.col("d").alias("__da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("d").alias("__db"))
    return (
        pairs.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("n_common")).cast(
                    "double"
                ),
                round_to,
            ).alias("jaccard"),
        )
    )


def bipartite_project(
    edges: DataFrame,
    left: str = "left",
    right: str = "right",
    min_weight: int = 1,
    max_left_degree: Union[int, str, None] = "auto",
    auto_cap: int = 10_000,
) -> DataFrame:
    """Project a bipartite edge table (user–item, order–part, doc–term)
    onto its RIGHT nodes: one edge per right-node pair that shares at
    least ``min_weight`` left neighbours, weighted by that shared count
    — the co-occurrence / co-purchase graph every collaborative-filter
    and co-citation analysis starts from.

    Same quadratic-hub honesty as ``common_neighbors``: a left node of
    degree d contributes d·(d-1)/2 pairs — that IS the projection
    semantics. ``max_left_degree="auto"`` probes the max left degree
    with one aggregate and caps only when some left hub exceeds
    ``auto_cap`` (with a ``UserWarning``; an order containing every part
    co-purchases nothing informative). Pass ``None`` to force the exact
    quadratic result.

    Plan: distinct edges persist once (degree probe + self-join read the
    same materialization), one equi-join on the left key, one
    map-side-combined pair count. Returns (``node_a``, ``node_b``,
    ``weight``) with ``node_a < node_b``.
    """
    e = (
        edges.select(F.col(left).alias("l"), F.col(right).alias("r"))
        .where(F.col("l").isNotNull() & F.col("r").isNotNull())
        .distinct()
        .persist()
    )
    if max_left_degree == "auto":
        row = (
            e.groupBy("l")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d").alias("mx"))
            .collect()
        )
        mx = int(row[0]["mx"] or 0) if row else 0
        if mx > int(auto_cap):
            import warnings

            warnings.warn(
                f"bipartite_project: max left degree {mx} exceeds "
                f"auto_cap={auto_cap}; dropping left hubs above "
                f"{auto_cap} (a degree-d left node creates d*(d-1)/2 "
                f"projected pairs). Pass max_left_degree=None for the "
                f"exact quadratic result.",
                UserWarning,
                stacklevel=2,
            )
            max_left_degree = int(auto_cap)
        else:
            max_left_degree = None
    if max_left_degree is not None:
        keep = (
            e.groupBy("l")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") <= int(max_left_degree))
            .select("l")
        )
        e = e.join(keep, "l")
    e1 = e.select(F.col("l"), F.col("r").alias("node_a"))
    e2 = e.select(F.col("l"), F.col("r").alias("node_b"))
    return (
        e1.join(e2, "l")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= int(min_weight))
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    index: str = "resource_allocation",
    min_common: int = 1,
    max_degree: Union[int, str, None] = "auto",
    auto_cap: int = 20_000,
    round_to: int = 6,
) -> DataFrame:
    """Degree-weighted link-prediction indices over shared neighbours:
    ``resource_allocation`` (Zhou, Lü & Zhang 2009: Σ 1/deg(z) over
    shared neighbours z) or ``adamic_adar`` (Adamic & Adar 2003:
    Σ 1/ln(deg(z))). Down-weighting high-degree shared neighbours is
    what separates these from the raw ``common_neighbors`` count — a
    shared hub says little, a shared leaf says a lot.

    Same wedge shape (and the same honest quadratic-hub semantics +
    ``max_degree="auto"`` apex guard) as ``common_neighbors``: each
    shared neighbour contributes one weighted (a, b) wedge; one
    map-side-combined pair aggregate sums the weights.

    Exactness: ``resource_allocation`` contributions are exact integer
    PICO-units (``10^12 div deg`` — truncating integer division), summed
    as bigint, so the score and any threshold on it replay bit-for-bit
    in any engine (the pagerank/k-means pattern). ``adamic_adar`` needs
    ``ln`` so its contributions are ``cast(10^12 / ln(deg) as bigint)``
    — deterministic given IEEE ln, pinned against networkx in tests.

    Returns (``node_a``, ``node_b``, ``n_common``, ``score``) with
    ``node_a < node_b``.
    """
    if index not in ("resource_allocation", "adamic_adar"):
        raise ValueError(
            "index must be 'resource_allocation' or 'adamic_adar'"
        )
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    canon = (
        edges.select(a, b).where(F.col("a") != F.col("b")).distinct().persist()
    )
    und = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    if max_degree == "auto":
        row = deg.agg(F.max("d").alias("mx")).collect()
        mx = int(row[0]["mx"] or 0) if row else 0
        if mx > int(auto_cap):
            import warnings

            warnings.warn(
                f"link_prediction_scores: max degree {mx} exceeds "
                f"auto_cap={auto_cap}; capping wedge apexes at {auto_cap} "
                f"(a degree-d apex builds d*(d-1)/2 weighted pairs). "
                f"Pass max_degree=None for the exact quadratic result.",
                UserWarning,
                stacklevel=2,
            )
            max_degree = int(auto_cap)
        else:
            max_degree = None
    apex = und.join(deg, "a")  # (a=apex, b=neighbour, d=deg(apex))
    if max_degree is not None:
        apex = apex.where(F.col("d") <= int(max_degree))
    if index == "resource_allocation":
        wt = F.expr("1000000000000 div d")
    else:
        # wedge apexes have >= 2 neighbours, so ln(d) >= ln 2 > 0
        wt = (F.lit(1.0e12) / F.log(F.col("d").cast("double"))).cast("bigint")
    n1 = apex.select(F.col("a").alias("u"), F.col("b").alias("x"), wt.alias("w"))
    n2 = apex.select(F.col("a").alias("u"), F.col("b").alias("y"))
    wedges = n1.join(n2, "u").where(F.col("x") < F.col("y"))
    pairs = wedges.groupBy(
        F.col("x").alias("node_a"), F.col("y").alias("node_b")
    ).agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("w").alias("__s"),
    )
    return pairs.where(F.col("n_common") >= int(min_common)).select(
        "node_a",
        "node_b",
        "n_common",
        F.round(F.col("__s").cast("double") / F.lit(1.0e12), round_to).alias(
            "score"
        ),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree >= k,
    by iterative peeling — drop all nodes with degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint. Deterministic
    (the fixpoint is unique regardless of peel order). Returns surviving
    ``(node, degree)`` with the degree WITHIN the core.

    Scale shape per iteration: one map-side-combined degree count + one
    semi-join of the edge list against surviving nodes (both endpoints);
    the edge list shrinks monotonically, so later iterations are cheaper.
    Iteration count is bounded by the peeling depth (typically small;
    convergence is an iteration that finds no node to peel). Peeling still
    under way after ``max_iterations`` raises instead of returning a
    subgraph that is not the core. The driver holds only the loop counter
    and one count per iteration.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    # each iteration references the previous edge set THREE times (the
    # degree union reads it twice, the filter join once), so carrying the
    # logical plan forward grows it 3^i — localCheckpoint (eager) truncates
    # lineage every round, exactly like the CC iteration loop
    cur = (
        edges.select(a, b)
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(int(max_iterations)):
        und = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        if deg.where(F.col("d") < int(k)).count() == 0:
            break  # nothing left to peel: the fixpoint
        keep = deg.where(F.col("d") >= int(k)).select(F.col("a").alias("n"))
        cur = (
            cur.join(keep.withColumnRenamed("n", "a"), "a")
            .join(keep.withColumnRenamed("n", "b"), "b")
            .select("a", "b")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"k_core did not converge in {max_iterations} iterations: "
            "nodes below degree k remain"
        )
    und = cur.unionByName(
        cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= int(k))
        .select(F.col("a").alias("node"), "degree")
    )
