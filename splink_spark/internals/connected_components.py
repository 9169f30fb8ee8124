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
"""

from __future__ import annotations

import logging
import time
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import MaterializationPolicy

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


def _solve_cc_driver(
    edges: DataFrame,
    nodes: Optional[DataFrame],
    node_col: str,
    edge_l_col: str,
    edge_r_col: str,
    assignments_only: bool = False,
    pdf=None,
) -> DataFrame:
    """Driver-side union-find over a collected edge list.

    Min-label propagation with pointer doubling in rank space: node ids are
    factorized then ranked by their natural ordering, so the converged root
    (min rank in component) maps back to the min node id — identical
    semantics to the distributed loop and to the reference's SQL loop.

    ``pdf``: the already-collected edge pandas frame, when the caller's
    cutover probe fetched it (avoids a second collect of the same rows).
    """
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    if pdf is None:
        pdf = edges.toPandas()
    # null endpoints would factorize to code -1 and silently index the last
    # element of the rank array, corrupting assignments; the distributed
    # join path drops such edges — match it
    pdf = pdf.dropna(subset=[edge_l_col, edge_r_col])
    id_type = edges.schema[edge_l_col].dataType

    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", id_type), StructField("cluster_id", id_type)]
    )
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
        # every consumer coalesces a missing assignment to the node id, so
        # dropping them here shrinks the broadcast/join side by the number
        # of components for free
        out = out[out["node"] != out["cluster_id"]]
        assignments = spark.createDataFrame(out, schema)
        assignments._splink_row_count = len(out)  # type: ignore[attr-defined]

    if assignments_only:
        out_df = assignments.select(
            F.col("node").alias(node_col), F.col("cluster_id")
        )
        out_df._splink_row_count = getattr(  # type: ignore[attr-defined]
            assignments, "_splink_row_count", None
        )
        return out_df
    rep = (
        nodes.select(F.col(node_col).alias("node"))
        .join(assignments, on="node", how="left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )
    )
    return rep


def solve_connected_components(
    edges: DataFrame,
    nodes: Optional[DataFrame],
    node_col: str = "node_id",
    edge_l_col: str = "node_id_l",
    edge_r_col: str = "node_id_r",
    materialization: Optional[MaterializationPolicy] = None,
    max_iterations: int = 50,
    delta_broadcast_rows: int = 4_000_000,
    driver_solve_max_edges: Optional[int] = None,
    assignments_only: bool = False,
    edges_cheap_to_recompute: bool = False,
    contract_frac: Optional[float] = 0.05,
    contract_min_gap: int = 2,
) -> DataFrame:
    """Return (node_id, cluster_id) with cluster_id = min node id in component.

    ``assignments_only=True`` returns rows ONLY for nodes that appear in an
    edge — and, on the driver-solve path, only those whose cluster_id
    differs from the node id (isolated and self-rooted nodes are absent —
    callers MUST coalesce ``cluster_id`` to the node id themselves). This
    skips the full-node-table join and the ``nodes.distinct()`` shuffle
    entirely — the caller's own output join does that work anyway, so doing
    it here too would pay it twice.

    Delta (frontier) iteration: after the first round only a shrinking
    frontier of nodes still changes representative (measured: round 2 touches
    ~2%% of nodes, round 3 <0.1%%), so each round joins the neighbour table
    against ONLY the rows that changed last round — broadcast-joined once the
    frontier is small — instead of re-shuffling the full representative table
    every round (the naive loop's cost is O(rounds x |V|+|E|); the delta
    loop's is O(|V|+|E| + sum of frontier sizes)). This is the Pregel-style
    formulation GraphX uses; correctness does not depend on the accelerator
    steps: the fixpoint (empty frontier) implies rep(x)==rep(y) for every
    edge, hence rep == component minimum.

    Pointer jumping (path halving) is applied to frontier rows each round, so
    chain-shaped clusters still converge in O(log diameter) rounds.

    ``delta_broadcast_rows``: frontier size at or below which every
    per-round join broadcasts the frontier side (4M narrow (id, rep) rows
    is ~64 MB — well inside executor memory; the round then costs one
    aggregation exchange instead of five sort-merge shuffles — measured
    ~16-20s -> ~5s per full-size round on the 1.2M-node chain bench).
    Above the cap the frontier sides carry a SHUFFLE_HASH hint: every join
    here pairs a large neighbour/rep table with a strictly smaller
    frontier-derived side, so hash beats sort-merge and skips both sorts
    (guide: prefer shuffled-hash when the per-partition build side fits).

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
    if cutover:
        # single bounded probe instead of count-then-collect: fetch at most
        # cutover+1 rows — under the cutover this IS the full edge list (one
        # action saved per solve); over it, the wasted work is bounded by
        # the cutover and the distributed loop takes over
        probe = edges.limit(cutover + 1).toPandas()
        if len(probe) <= cutover:
            return _solve_cc_driver(
                edges, nodes, node_col, edge_l_col, edge_r_col,
                assignments_only=assignments_only, pdf=probe,
            )
    # symmetric neighbour list (reference :169-187 reverse-union)
    fwd = edges.select(F.col(edge_l_col).alias("node"), F.col(edge_r_col).alias("nbr"))
    rev = edges.select(F.col(edge_r_col).alias("node"), F.col(edge_l_col).alias("nbr"))
    neighbours = fwd.unionByName(rev)
    neighbours = mat.materialize(neighbours, "clustering")

    # init: rep = min(self, direct neighbours) (reference :197-220)
    nbr_min = neighbours.groupBy("node").agg(F.min("nbr").alias("nbr_min"))
    if assignments_only:
        # every edge endpoint appears in neighbours, so nbr_min already
        # covers the assignments-only node universe — no extra shuffle
        rep = nbr_min.select(
            "node", F.least(F.col("node"), F.col("nbr_min")).alias("rep")
        )
    else:
        self_rep = nodes.select(
            F.col(node_col).alias("node"), F.col(node_col).alias("rep")
        )
        rep = (
            self_rep.join(nbr_min, on="node", how="left")
            .select("node", F.least(F.col("rep"), F.col("nbr_min")).alias("rep"))
        )
    rep = mat.materialize(rep, "clustering", iterative=True)

    def _universe_and_delta(rep_df: DataFrame) -> "tuple[int, int]":
        """One job over the (materialized, narrow) rep table: its total row
        count — the node UNIVERSE every full-rep join side is bounded by —
        and the frontier size. The universe count is what gates the
        contraction/composition broadcasts: the initial frontier does NOT
        bound the rep table (nodes-supplied solves carry isolated nodes;
        assignments_only reps reach ~2x the frontier), so gating a full-rep
        broadcast on the frontier size risks an oversized broadcast on a
        huge settled universe with a small frontier."""
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

    for it in range(max_iterations):
        if n_delta == 0:
            break
        rounds_run = it + 1
        t_iter = time.time()
        small = n_delta <= delta_broadcast_rows

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
            small_u = n_universe <= delta_broadcast_rows
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
    # observability for benches/tests: how many delta rounds the
    # distributed loop ran (the loop is eager, so this is final)
    out._splink_cc_rounds = rounds_run  # type: ignore[attr-defined]
    out._splink_cc_contractions = n_contractions  # type: ignore[attr-defined]
    return out


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
    broadcast_max_rows: int = 4_000_000,
) -> DataFrame:
    """Left-join CC assignments onto a node table, coalescing a missing
    assignment to the node id itself (the assignments contract omits
    isolated — and on the driver path self-rooted — nodes). A few million
    narrow (id, id) rows broadcast far cheaper than shuffling the full-width
    node table into a sort-merge join, so broadcast when the solver reported
    an exact row count under the cap."""
    n_assign = getattr(assignments, "_splink_row_count", None)
    join_side = (
        F.broadcast(assignments)
        if n_assign is not None and n_assign <= broadcast_max_rows
        else assignments
    )
    out = nodes.join(join_side, on=node_col, how="left")
    return out.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(node_col))
    )


def cluster_pairwise_predictions_at_threshold(
    linker,
    df_predict: DataFrame,
    threshold_match_probability: "float | None" = None,
) -> DataFrame:
    """linker_components/clustering.py:43-179: threshold the edges, solve CC,
    join cluster ids back onto the input columns.

    Reference semantics (clustering.py:102-118): ``None`` keeps every edge —
    the deterministic-link output has no ``match_probability`` column and
    clusters as-is; providing a threshold against such a frame raises."""
    s = linker.settings
    uid = s.unique_id_column_name
    concat = linker.df_concat()
    # predict() attaches its persisted narrow core (ids + scores, no wide
    # compare columns) — edge extraction reads it directly and skips the
    # node re-join entirely
    narrow = getattr(df_predict, "_splink_narrow", None)
    edges_cached = narrow is not None
    if edges_cached:
        df_predict = narrow

    sd = s.source_dataset_column_name
    node_expr, edge_l, edge_r = node_id_columns(
        uid, sd if s.needs_source_dataset and sd in concat.columns else None
    )

    has_match_prob = "match_probability" in df_predict.columns
    if threshold_match_probability is not None and not has_match_prob:
        raise ValueError(
            "df_predict must have a column called 'match_probability' if "
            "threshold_match_probability is provided"
        )
    if threshold_match_probability is not None:
        df_predict = df_predict.where(
            F.col("match_probability") >= threshold_match_probability
        )
    edges = df_predict.select(
        edge_l.alias("node_id_l"), edge_r.alias("node_id_r")
    )

    # assignments_only: the solver returns rows only for edge-endpoint nodes
    # and this caller coalesces cluster_id to the node id anyway — solving
    # over the full node table would pay a concat.distinct() shuffle plus a
    # second full-width join for nothing
    assignments = solve_connected_components(
        edges,
        nodes=None,
        materialization=linker.materialization,
        assignments_only=True,
        edges_cheap_to_recompute=edges_cached,
    )
    out = join_assignments_onto_nodes(
        concat.withColumn("node_id", node_expr), assignments, "node_id"
    )
    return out.drop("node_id").select("cluster_id", *concat.columns)


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
    # LEFT join + coalesce: assignments from an assignments_only solve omit
    # self-rooted nodes, and an inner join would silently drop their edges
    with_cluster = (
        edges.join(
            assignments.select(
                F.col(node_col).alias(l_col), F.col("cluster_id")
            ),
            on=l_col,
            how="left",
        )
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(l_col)))
        .select("cluster_id", l_col, r_col)
    )

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

    ``assignments`` must be the FULL per-node cluster table (the
    cluster_pairwise_predictions_at_threshold output shape) — an
    assignments_only solver result omits isolated/self-rooted nodes and
    would undercount ``n_nodes``."""
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
