"""Clustering: connected components over the thresholded edge list.

Reference: splink/internals/connected_components.py:121-335 — iterative
min-label propagation in SQL (inspired by arXiv:1802.09478): symmetrize
edges, init representative = node, then repeatedly set
``rep(node) = min(rep(node), min over neighbours' reps)`` until no edge
crosses two clusters.

Native rewrite: the same min-propagation loop as DataFrame joins, with a
mandatory lineage break per iteration (plan growth, not recompute, is the
Spark failure mode — reference persists ``__splink__representatives*`` per
iteration, spark/database_api.py:292-312). Exit condition = zero changed
representatives, one driver round-trip per iteration exactly like the
reference (:305-307). Iteration count ~ O(log(cluster diameter)) because
representatives chain-contract via min-propagation over the rep graph.

One path: ``LinkerClustering._graph`` builds every linker clustering graph,
and ``cluster_at_threshold`` is the threshold → solve → attach core of the
linker and ``splink_spark.clustering``. One output contract: both solvers
produce sparse assignments (a node absent from them is its own cluster), and
``join_assignments_onto_nodes`` alone serves them onto a node table.
"""

from __future__ import annotations

import logging
import time
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import MaterializationPolicy
from .misc import match_weight_to_prob, threshold_args_to_match_weight

logger = logging.getLogger(__name__)


#: Edge-count cutover below which CC is solved on the driver (numpy
#: union-find) instead of the iterative join loop. Exactly analogous to the
#: broadcast-join threshold: the distributed loop pays ~6 Spark jobs of fixed
#: scheduling latency per round, which dwarfs the actual work on small edge
#: sets, while 5M edges collect to ~80 MB of Arrow. The reference solves CC
#: single-node *always* (DuckDB recursive loop); we keep the distributed loop
#: as the default for anything larger. Override via the function parameter
#: (0 disables).
DRIVER_SOLVE_MAX_EDGES = 5_000_000

#: Round cap of the distributed loop. Pointer jumping converges in
#: O(log diameter) rounds, so hitting the cap means the labels are not yet
#: components: the solve raises rather than return them.
MAX_ROUNDS = 50

#: Row count at or below which a narrow (id, id) table is broadcast: the
#: node join's assignments, and the frontier side of every per-round join in
#: the distributed loop (4M narrow rows is ~64 MB — well inside executor
#: memory; a round then costs one aggregation exchange instead of five
#: sort-merge shuffles — measured ~16-20s -> ~5s per full-size round on the
#: 1.2M-node chain bench). Above it the loop's frontier sides carry a
#: SHUFFLE_HASH hint: every join there pairs a large neighbour/rep table with
#: a strictly smaller frontier-derived side, so hash beats sort-merge and
#: skips both sorts.
BROADCAST_MAX_ROWS = 4_000_000


def _solve_cc_driver(
    edges: DataFrame,
    node_col: str,
    edge_l_col: str,
    edge_r_col: str,
    pdf,
) -> DataFrame:
    """Driver-side union-find over the collected edge list ``pdf`` (the
    cutover probe's rows), as sparse assignments without self-rooted rows.

    Min-label propagation with pointer doubling in rank space: node ids are
    factorized then ranked by their natural ordering, so the converged root
    (min rank in component) maps back to the min node id — identical
    semantics to the distributed loop and to the reference's SQL loop.
    """
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    # null endpoints would factorize to code -1 and silently index the last
    # element of the rank array, corrupting assignments; the distributed
    # join path drops such edges — match it
    pdf = pdf.dropna(subset=[edge_l_col, edge_r_col])
    id_type = edges.schema[edge_l_col].dataType

    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", id_type), StructField("cluster_id", id_type)]
    )
    n_rows = None
    if len(pdf) == 0:
        assignments = spark.createDataFrame([], schema)
    else:
        both = pd.concat(
            [pdf[edge_l_col], pdf[edge_r_col]], ignore_index=True
        )
        codes, uniques = pd.factorize(both)
        n = len(uniques)
        uniq_arr = np.asarray(uniques)
        order = np.argsort(uniq_arr, kind="stable")
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n, dtype=np.int64)
        li = rank[codes[: len(pdf)]]
        ri = rank[codes[len(pdf):]]
        parent = np.arange(n, dtype=np.int64)
        while True:
            mn = np.minimum(parent[li], parent[ri])
            np.minimum.at(parent, li, mn)
            np.minimum.at(parent, ri, mn)
            while True:  # pointer doubling to the current roots
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
            if np.array_equal(parent[li], parent[ri]):
                break
        sorted_ids = uniq_arr[order]
        out = pd.DataFrame(
            {"node": sorted_ids, "cluster_id": sorted_ids[parent]}
        )
        # self-rooted rows (node == its component minimum) are redundant:
        # the assignments contract leaves them to the node join's coalesce,
        # which shrinks the broadcast/join side by the number of components
        out = out[out["node"] != out["cluster_id"]]
        assignments = spark.createDataFrame(out, schema)
        n_rows = len(out)
    out_df = assignments.select(F.col("node").alias(node_col), F.col("cluster_id"))
    out_df._splink_row_count = n_rows  # type: ignore[attr-defined]
    return out_df


def solve_connected_components(
    edges: DataFrame,
    nodes: Optional[DataFrame],
    node_col: str = "node_id",
    edge_l_col: str = "node_id_l",
    edge_r_col: str = "node_id_r",
    materialization: Optional[MaterializationPolicy] = None,
    driver_solve_max_edges: Optional[int] = None,
    assignments_only: bool = False,
    edges_cheap_to_recompute: bool = False,
    contract_frac: Optional[float] = 0.05,
    contract_min_gap: int = 2,
) -> DataFrame:
    """(node_col, cluster_id) with cluster_id = min node id in component.

    Both solvers produce only the sparse assignments: rows for edge
    endpoints, and on the driver path only those whose cluster_id differs
    from the node id. A node absent from them is its own cluster. With
    ``nodes`` (and not ``assignments_only``) the assignments are served onto
    ``nodes[node_col]`` by ``join_assignments_onto_nodes``; otherwise they are
    returned as they are, and the caller's own node join does that work.

    Edge sets of at most ``driver_solve_max_edges`` (default
    ``DRIVER_SOLVE_MAX_EDGES``; 0 disables) are solved on the driver, larger
    ones by the distributed loop (``_solve_cc_distributed``), which reports
    its round and contraction counts as ``_splink_cc_rounds`` /
    ``_splink_cc_contractions`` on the output.
    """
    mat = materialization or MaterializationPolicy(method="local_checkpoint")

    # materialize the (narrow) edge list BEFORE the symmetrize union — the
    # fwd/rev branches would otherwise each re-execute the edge-producing
    # plan (for thresholded predictions: the junction join + fuzzy UDFs).
    # ``edges_cheap_to_recompute=True`` (edges already derive from a persisted
    # frame, e.g. predict's narrow core) skips this: the count + collect the
    # driver path runs are each a cheap cached-filter scan, and the extra
    # checkpoint job would cost more than the two re-reads it saves.
    edges = edges.select(
        F.col(edge_l_col).alias(edge_l_col), F.col(edge_r_col).alias(edge_r_col)
    )
    if not edges_cheap_to_recompute:
        edges = mat.materialize(edges, "clustering")
    cutover = (
        DRIVER_SOLVE_MAX_EDGES
        if driver_solve_max_edges is None
        else driver_solve_max_edges
    )
    # single bounded probe instead of count-then-collect: fetch at most
    # cutover+1 rows — under the cutover this IS the full edge list (one
    # action saved per solve); over it, the wasted work is bounded by the
    # cutover and the distributed loop takes over
    probe = edges.limit(cutover + 1).toPandas() if cutover else None
    rounds = contractions = None
    if probe is not None and len(probe) <= cutover:
        assignments = _solve_cc_driver(edges, node_col, edge_l_col, edge_r_col, probe)
    else:
        assignments, rounds, contractions = _solve_cc_distributed(
            edges, mat, node_col, edge_l_col, edge_r_col,
            contract_frac, contract_min_gap,
        )
    out = assignments
    if nodes is not None and not assignments_only:
        out = join_assignments_onto_nodes(
            nodes.select(node_col), assignments, node_col
        ).select(node_col, "cluster_id")
    out._splink_cc_rounds = rounds  # type: ignore[attr-defined]
    out._splink_cc_contractions = contractions  # type: ignore[attr-defined]
    return out


def _solve_cc_distributed(
    edges: DataFrame,
    mat: MaterializationPolicy,
    node_col: str,
    edge_l_col: str,
    edge_r_col: str,
    contract_frac: Optional[float],
    contract_min_gap: int,
) -> "tuple[DataFrame, int, int]":
    """The iterative join loop over a materialized edge list: the sparse
    assignments of every edge endpoint, the rounds run and the contractions.

    Delta (frontier) iteration: after the first round only a shrinking
    frontier of nodes still changes representative (measured: round 2 touches
    ~2%% of nodes, round 3 <0.1%%), so each round joins the neighbour table
    against ONLY the rows that changed last round — broadcast-joined once the
    frontier is small (``BROADCAST_MAX_ROWS``) — instead of re-shuffling
    the full representative table every round (the naive loop's cost is
    O(rounds x |V|+|E|); the delta loop's is O(|V|+|E| + sum of frontier
    sizes)). This is the Pregel-style formulation GraphX uses; correctness
    does not depend on the accelerator steps: the fixpoint (empty frontier)
    implies rep(x)==rep(y) for every edge, hence rep == component minimum.
    A frontier still non-empty after ``MAX_ROUNDS`` rounds raises.

    Pointer jumping (path halving) is applied to frontier rows each round, so
    chain-shaped clusters still converge in O(log diameter) rounds.

    ``contract_frac`` (default 0.05; 0/None disables): graph contraction
    once the frontier has collapsed. Every round scans the FULL cached neighbour table (the
    broadcast-join probe side) and rebuilds jump parents from the FULL rep
    table, even when only a sliver of nodes is still moving — at 10M+ nodes
    those two scans ARE the near-converged rounds' cost. When
    ``n_delta <= contract_frac * initial frontier`` (and at least
    ``contract_min_gap`` rounds passed since the last contraction), both
    endpoints of every neighbour row are mapped through the current rep;
    intra-block rows (rep equal — provably same component, since a rep
    value is always a node of its owner's component) vanish map-side before
    a distinct, and the loop continues on the contracted graph whose nodes
    are the LABELS (distinct rep values). Two properties make this safe and
    cheap:

    - *Correctness*: the label partition refines the final components, so
      quotient components = quotient of components, and the component
      minimum is itself a label (``rep(min) == min`` — the minimum never
      receives a smaller id). The archived full mapping is composed back
      over the contracted result at exit: ``out(u) = cluster'(rep_k(u))``.
    - *No convergence reset*: the contracted rep is initialised as
      ``least(rep_old(label), min contracted-neighbour label)`` — the image
      of rep is closed under rep, so ``rep_old(label)`` is itself a label
      and the accumulated pointer-jumping structure carries over; the jump
      joins stay total over the all-labels universe. (A plain identity
      re-init was measured to destroy the O(log diameter) behaviour on
      chain graphs — linear rounds.)

    The trigger is frontier-fraction-based, not round-based, so
    diameter-stress graphs whose frontier stays near-full (the 100k-chain
    bench) contract only in their cheap tail, while cluster-shaped graphs
    (dedup components, hub skew) contract right after the mass settles.
    """
    # symmetric neighbour list (reference :169-187 reverse-union)
    fwd = edges.select(F.col(edge_l_col).alias("node"), F.col(edge_r_col).alias("nbr"))
    rev = edges.select(F.col(edge_r_col).alias("node"), F.col(edge_l_col).alias("nbr"))
    neighbours = fwd.unionByName(rev)
    neighbours = mat.materialize(neighbours, "clustering")

    # init: rep = min(self, direct neighbours) (reference :197-220); every
    # edge endpoint appears in neighbours, so nbr_min covers the node
    # universe of the assignments — no extra shuffle
    nbr_min = neighbours.groupBy("node").agg(F.min("nbr").alias("nbr_min"))
    rep = nbr_min.select(
        "node", F.least(F.col("node"), F.col("nbr_min")).alias("rep")
    )
    rep = mat.materialize(rep, "clustering", iterative=True)

    def _universe_and_delta(rep_df: DataFrame) -> "tuple[int, int]":
        """One job over the (materialized, narrow) rep table: its total row
        count — the node UNIVERSE every full-rep join side is bounded by —
        and the frontier size. The universe count is what gates the
        contraction/composition broadcasts: the initial frontier does NOT
        bound the rep table (it holds every edge endpoint, ~2x the
        frontier), so gating a full-rep broadcast on the frontier size
        risks an oversized broadcast on a huge settled universe with a
        small frontier."""
        row = rep_df.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(
                F.when(F.col("rep") != F.col("node"), F.lit(1))
            ).alias("__nd"),
        ).collect()[0]
        return int(row["__n"]), int(row["__nd"])

    # initial frontier: nodes whose rep moved off self — only their new reps
    # are information a neighbour hasn't already folded in via nbr_min
    delta = rep.where(F.col("rep") != F.col("node"))
    n_universe, n_delta = _universe_and_delta(rep)
    n_delta_init = n_delta
    since_rep_checkpoint = 0
    rounds_run = 0
    rounds_since_contract = 0
    # archived full (node -> rep) mappings, outermost first; composed back
    # over the contracted result at exit
    base_maps: list = []
    n_contractions = 0

    for it in range(MAX_ROUNDS):
        if n_delta == 0:
            break
        rounds_run = it + 1
        t_iter = time.time()
        small = n_delta <= BROADCAST_MAX_ROWS

        delta_as_nbr = delta.select(
            F.col("node").alias("nbr"), F.col("rep").alias("nbr_rep")
        )
        delta_as_nbr = (
            F.broadcast(delta_as_nbr) if small else delta_as_nbr.hint("SHUFFLE_HASH")
        )
        cand = (
            neighbours.join(delta_as_nbr, on="nbr")
            .groupBy("node")
            .agg(F.min("nbr_rep").alias("cand_rep"))
        )
        cand = F.broadcast(cand) if small else cand.hint("SHUFFLE_HASH")
        improved = (
            rep.join(cand, on="node")
            .where(F.col("cand_rep") < F.col("rep"))
            .select("node", F.col("cand_rep").alias("rep"))
        )
        # materialize the propagation result BEFORE the jump joins: each
        # jump broadcasts its input, and a broadcast build is its own job
        # that re-executes everything upstream — un-truncated, the
        # neighbours-scan + aggregate pipeline above ran once per jump
        # plus once for the final action (3x per round, measured).  The
        # jumps preserve row count (the parent lookup is total), so the
        # exit-condition count is taken here and a converged round skips
        # the jumps entirely.
        improved = mat.materialize(improved, "clustering", iterative=True)
        n_delta = improved.count()
        logger.info(
            "CC iteration %d: %d changed (%.2fs)", it, n_delta, time.time() - t_iter
        )
        if n_delta == 0:
            break
        # pointer jump through the previous rep table: rep(node) <- rep(rep).
        # Every rep value is itself a node id, so an inner join is total and
        # lets Spark broadcast the (small) frontier as the build side.
        parent = rep.select(F.col("node").alias("p_node"), F.col("rep").alias("p_rep"))
        jump_side = F.broadcast(improved) if small else improved.hint("SHUFFLE_HASH")
        improved = jump_side.join(
            parent, jump_side["rep"] == parent["p_node"], "inner"
        ).select("node", F.least(jump_side["rep"], parent["p_rep"]).alias("rep"))
        # second jump through the same parent table: reaches the grandparent
        # representative for one more (broadcast) join per round. On
        # long-diameter graphs this trades a cheap extra stage for fewer
        # cluster-wide rounds (measured 18 -> 16 rounds, ~20% wall-clock on
        # a 1.2M-node 100k-diameter chain); deeper jump chains were
        # measured SLOWER: the extra broadcast builds re-execute the jump
        # chain so cost grows quadratically in the jump count while the
        # round count barely moves. Correctness is unchanged — jumps are
        # monotone accelerators (see docstring).
        jump2 = F.broadcast(improved) if small else improved.hint("SHUFFLE_HASH")
        parent2 = rep.select(
            F.col("node").alias("p_node"), F.col("rep").alias("p_rep")
        )
        improved = jump2.join(
            parent2, jump2["rep"] == parent2["p_node"], "inner"
        ).select("node", F.least(jump2["rep"], parent2["p_rep"]).alias("rep"))
        improved = mat.materialize(improved, "clustering", iterative=True)

        upd = improved.select(F.col("node").alias("u_node"), F.col("rep").alias("u_rep"))
        upd = F.broadcast(upd) if small else upd.hint("SHUFFLE_HASH")
        rep = (
            rep.join(upd, rep["node"] == upd["u_node"], "left")
            .select(rep["node"], F.coalesce(upd["u_rep"], rep["rep"]).alias("rep"))
        )
        since_rep_checkpoint += 1
        rounds_since_contract += 1

        if (
            contract_frac
            and rounds_since_contract >= contract_min_gap
            and n_delta <= contract_frac * n_delta_init
        ):
            t_c = time.time()
            rep = mat.materialize(rep, "clustering", iterative=True)
            since_rep_checkpoint = 0
            # map both neighbour endpoints through rep; the rep side
            # broadcasts only when the ACTUAL rep row count (the node
            # universe, counted once per solve and re-counted after each
            # contraction) fits the broadcast budget, else SHUFFLE_HASH
            # per the loop's join convention
            small_u = n_universe <= BROADCAST_MAX_ROWS
            r1 = rep.select(
                F.col("node").alias("m_node"), F.col("rep").alias("m_rep")
            )
            r1h = F.broadcast(r1) if small_u else r1.hint("SHUFFLE_HASH")
            half = neighbours.join(r1h, neighbours["node"] == r1["m_node"]).select(
                F.col("m_rep").alias("node"), F.col("nbr")
            )
            r2 = rep.select(
                F.col("node").alias("m_node2"), F.col("rep").alias("m_rep2")
            )
            r2h = F.broadcast(r2) if small_u else r2.hint("SHUFFLE_HASH")
            contracted = (
                half.join(r2h, half["nbr"] == r2["m_node2"])
                .select("node", F.col("m_rep2").alias("nbr"))
                .where(F.col("node") != F.col("nbr"))
                .distinct()
            )
            neighbours = mat.materialize(contracted, "clustering", iterative=True)
            base_maps.append((rep, small_u))
            # contracted universe = ALL labels (so the jump joins stay
            # total); inherit the old pointers via rep_old(label)
            labels = rep.select(F.col("rep").alias("node")).distinct()
            nbr_min2 = neighbours.groupBy("node").agg(F.min("nbr").alias("nbr_min"))
            nbr_min2 = (
                F.broadcast(nbr_min2) if small_u else nbr_min2.hint("SHUFFLE_HASH")
            )
            old_vals = rep.select(
                F.col("node").alias("o_node"), F.col("rep").alias("o_rep")
            )
            old_vals = (
                F.broadcast(old_vals) if small_u else old_vals.hint("SHUFFLE_HASH")
            )
            rep = (
                labels.join(nbr_min2, on="node", how="left")
                .join(old_vals, labels["node"] == old_vals["o_node"], "inner")
                .select(
                    "node",
                    F.least(
                        F.coalesce(F.col("nbr_min"), F.col("node")), F.col("o_rep")
                    ).alias("rep"),
                )
            )
            rep = mat.materialize(rep, "clustering", iterative=True)
            delta = rep.where(F.col("rep") != F.col("node"))
            n_universe, n_delta = _universe_and_delta(rep)
            n_delta_init = max(n_delta, 1)
            rounds_since_contract = 0
            n_contractions += 1
            logger.info(
                "CC contraction after round %d: frontier %d (%.2fs)",
                it, n_delta, time.time() - t_c,
            )
            continue

        # rep's lineage grows one (broadcast) join per round, and the next
        # round references rep FOUR times (improved join, two parent
        # lookups, update base) — every un-truncated layer re-executes 4x,
        # so truncate every other round and always after a full-size round
        # (measured: the >=3 cadence produced 8-30s recompute spikes in
        # near-converged tail rounds)
        if since_rep_checkpoint >= 2 or not small:
            rep = mat.materialize(rep, "clustering", iterative=True)
            since_rep_checkpoint = 0
        delta = improved

    # every break leaves an empty frontier: this one is the round cap's
    if n_delta:
        raise RuntimeError(
            f"connected components did not converge in {MAX_ROUNDS} rounds: "
            f"{n_delta} nodes still changing"
        )

    # compose the archived mappings back over the contracted result,
    # innermost first: out(u) = cluster'(rep_k(u)). The composed side's
    # universe is the labels of that contraction, bounded by the universe
    # it was contracted from — broadcast exactly when that universe already
    # fit the broadcast budget, else SHUFFLE_HASH (same convention as the
    # loop's joins). With several archived contractions the composition
    # would nest one un-materialized join per step onto rep's lineage —
    # exactly the plan growth the loop truncates — so materialize between
    # steps whenever more than one remains.
    for i, (base, b_small) in enumerate(reversed(base_maps)):
        fr = rep.select(F.col("node").alias("f_node"), F.col("rep").alias("f_rep"))
        fr = F.broadcast(fr) if b_small else fr.hint("SHUFFLE_HASH")
        rep = base.join(fr, base["rep"] == fr["f_node"], "left").select(
            base["node"], F.coalesce(fr["f_rep"], base["rep"]).alias("rep")
        )
        if i < len(base_maps) - 1:
            rep = mat.materialize(rep, "clustering", iterative=True)

    out = rep.select(F.col("node").alias(node_col), F.col("rep").alias("cluster_id"))
    return out, rounds_run, n_contractions


def node_id_columns(
    uid: str, source_dataset: Optional[str] = None
) -> tuple[Column, Column, Column]:
    """Graph node-id expressions ``(node, edge_l, edge_r)``: over a record
    table, and over a pair table's ``_l`` / ``_r`` columns. With
    ``source_dataset`` they are the composite ``<dataset>-__-<uid>`` strings
    (unique_id_concat.py:8-43), since uids are only unique per dataset;
    without, the bare uid columns."""
    if source_dataset is None:
        return F.col(uid), F.col(f"{uid}_l"), F.col(f"{uid}_r")

    def composite(suffix: str) -> Column:
        return F.concat_ws(
            "-__-",
            F.col(f"{source_dataset}{suffix}").cast("string"),
            F.col(f"{uid}{suffix}").cast("string"),
        )

    return composite(""), composite("_l"), composite("_r")


def join_assignments_onto_nodes(
    nodes: DataFrame,
    assignments: DataFrame,
    node_col: str = "node_id",
) -> DataFrame:
    """The one left-join of CC assignments onto a node table: a missing
    assignment coalesces to the node id itself (the sparse assignments omit
    isolated — and on the driver path self-rooted — nodes). A few million
    narrow (id, id) rows broadcast far cheaper than shuffling the full-width
    node table into a sort-merge join, so broadcast when the solver reported
    an exact row count under ``BROADCAST_MAX_ROWS``."""
    n_assign = getattr(assignments, "_splink_row_count", None)
    join_side = (
        F.broadcast(assignments)
        if n_assign is not None and n_assign <= BROADCAST_MAX_ROWS
        else assignments
    )
    out = nodes.join(join_side, on=node_col, how="left")
    return out.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(node_col))
    )


def threshold_edges(
    edges: DataFrame,
    threshold_match_probability: Optional[float] = None,
    threshold_match_weight: Optional[float] = None,
) -> DataFrame:
    """The edges at or above at most one threshold; a match weight converts
    to a probability, p = 2^w / (1 + 2^w) (reference clustering.py:102-118).
    No threshold keeps every edge: the deterministic-link output has no
    ``match_probability`` column and clusters as-is."""
    if threshold_args_to_match_weight(threshold_match_probability, threshold_match_weight) is None:
        return edges
    p = threshold_match_probability
    if p is None:
        p = match_weight_to_prob(float(threshold_match_weight))
    if "match_probability" not in edges.columns:
        raise ValueError(
            "df_predict must have a column called 'match_probability' if a "
            "threshold is provided"
        )
    return edges.where(F.col("match_probability") >= p)


def cluster_at_threshold(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node_id",
    edge_l_col: str = "node_id_l",
    edge_r_col: str = "node_id_r",
    threshold_match_probability: Optional[float] = None,
    threshold_match_weight: Optional[float] = None,
    materialization: Optional[MaterializationPolicy] = None,
    edges_cheap_to_recompute: bool = False,
) -> DataFrame:
    """``(cluster_id, *nodes.columns)``: threshold the edges, solve CC, join
    the assignments onto the node table (linker_components/clustering.py:
    43-179). A pre-existing ``cluster_id`` (re-clustering a previous output
    at a new threshold) is replaced by the new one, not joined ambiguously.

    The solve returns the sparse assignments (``nodes=None``): this join
    serves every node anyway, so solving over the node table would pay its
    shuffle and a second full-width join for nothing."""
    assignments = solve_connected_components(
        threshold_edges(edges, threshold_match_probability, threshold_match_weight),
        None,
        node_col=node_col,
        edge_l_col=edge_l_col,
        edge_r_col=edge_r_col,
        materialization=materialization,
        edges_cheap_to_recompute=edges_cheap_to_recompute,
    )
    nodes = nodes.drop("cluster_id")
    out = join_assignments_onto_nodes(nodes, assignments, node_col)
    return out.select("cluster_id", *nodes.columns)


def _find_bridges(edge_list: list) -> set:
    """Bridge edges of an undirected graph — iterative Tarjan low-link
    (the algorithm igraph implements for the reference's is_bridge,
    edge_metrics.py:75-160). Returns indices into ``edge_list``. Parallel
    edges are handled: only the single parent-edge occurrence is skipped, so
    a duplicated edge is never a bridge."""
    from collections import defaultdict

    adj: dict = defaultdict(list)
    for i, (u, v) in enumerate(edge_list):
        if u == v:
            continue  # self-loops are never bridges
        adj[u].append((v, i))
        adj[v].append((u, i))
    disc: dict = {}
    low: dict = {}
    bridges: set = set()
    timer = 0
    for start in adj:
        if start in disc:
            continue
        disc[start] = low[start] = timer
        timer += 1
        stack = [(start, -1, iter(adj[start]))]
        while stack:
            node, pedge, it = stack[-1]
            advanced = False
            for nbr, eidx in it:
                if eidx == pedge:
                    continue
                if nbr not in disc:
                    disc[nbr] = low[nbr] = timer
                    timer += 1
                    stack.append((nbr, eidx, iter(adj[nbr])))
                    advanced = True
                    break
                low[node] = min(low[node], disc[nbr])
            if not advanced:
                stack.pop()
                if stack:
                    parent = stack[-1][0]
                    low[parent] = min(low[parent], low[node])
                    if low[node] > disc[parent]:
                        bridges.add(pedge)
    return bridges


def compute_edge_metrics(
    edges: DataFrame,
    assignments: DataFrame,
    node_col: str = "node_id",
) -> DataFrame:
    """Edge table with ``is_bridge`` (reference edge_metrics.py:75-160).

    The reference collects all edges to the driver and runs igraph once.
    Spark-first shape instead: edges group by ``cluster_id`` and each group
    runs Tarjan bridge-finding inside ``applyInPandas`` — per-cluster
    parallelism across executors, bounded by the largest single cluster (the
    same bound the reference's driver-side igraph has for the whole graph).
    Output: (cluster_id, node_id_l, node_id_r, is_bridge).
    """
    import pandas as pd

    l_col, r_col = f"{node_col}_l", f"{node_col}_r"
    # the left endpoint's cluster; sparse assignments omit self-rooted
    # nodes, whose edges the node join's coalesce keeps
    with_cluster = join_assignments_onto_nodes(
        edges,
        assignments.select(F.col(node_col).alias(l_col), F.col("cluster_id")),
        l_col,
    ).select("cluster_id", l_col, r_col)

    def bridges_per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        edge_list = list(zip(pdf[l_col], pdf[r_col]))
        bridge_idx = _find_bridges(edge_list)
        pdf = pdf.copy()
        pdf["is_bridge"] = [i in bridge_idx for i in range(len(edge_list))]
        return pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in with_cluster.schema.fields
    ) + ", is_bridge boolean"
    return with_cluster.groupBy("cluster_id").applyInPandas(
        bridges_per_cluster, schema=schema
    )


def compute_graph_metrics(
    edges: DataFrame,
    assignments: DataFrame,
    node_col: str = "node_id",
) -> DataFrame:
    """Cluster size, density, degree centralisation
    (reference graph_metrics.py:257-330). Bridges: ``compute_edge_metrics``.

    ``assignments`` must be the FULL per-node cluster table (a clustering
    output, or a solve given ``nodes``) — sparse assignments omit
    isolated/self-rooted nodes and would undercount ``n_nodes``."""
    fwd = edges.select(F.col(f"{node_col}_l").alias("node"))
    rev = edges.select(F.col(f"{node_col}_r").alias("node"))
    degrees = fwd.unionByName(rev).groupBy("node").agg(F.count("*").alias("degree"))
    joined = assignments.select(
        F.col(node_col).alias("node"), "cluster_id"
    ).join(degrees, on="node", how="left").fillna({"degree": 0})
    per_cluster = joined.groupBy("cluster_id").agg(
        F.count("*").alias("n_nodes"),
        (F.sum("degree") / F.lit(2.0)).alias("n_edges"),
        F.max("degree").alias("max_degree"),
    )
    n = F.col("n_nodes").cast("double")
    density = F.when(n > 1, F.col("n_edges") * 2.0 / (n * (n - 1))).otherwise(None)
    centralisation = F.when(
        n > 2,
        (n * F.col("max_degree") - 2 * F.col("n_edges"))
        / ((n - 1) * (n - 2)),
    ).otherwise(None)
    return per_cluster.select(
        "cluster_id",
        "n_nodes",
        "n_edges",
        density.alias("density"),
        centralisation.alias("centralisation"),
    )
