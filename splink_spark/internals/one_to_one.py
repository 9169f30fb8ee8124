"""One-to-one clustering across duplicate-free datasets.

Reference: splink/internals/one_to_one_clustering.py:14-336 and
linker_components/clustering.py:180-342 (``cluster_using_single_best_links``):
clusters are merged iteratively — each round, every cluster proposes its
single best outgoing link (rank 1 on both endpoints' clusters), and a merge
is rejected when both clusters already contain a record from the same
duplicate-free dataset, preserving the at-most-one-record-per-dataset
guarantee. Ties are dropped ('drop') or broken by lowest id ('lowest_id').
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cluster_using_single_best_links(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "node_id",
    source_dataset_col: str = "source_dataset",
    probability_col: str = "match_probability",
    threshold_match_probability: float = 0.5,
    ties: str = "drop",
    duplicate_free_datasets: Optional[Sequence[str]] = None,
    materialization=None,
    max_iterations: int = 100,
) -> DataFrame:
    """edges: (node_id_l, node_id_r, source_dataset_l, source_dataset_r,
    match_probability); nodes: (node_id, source_dataset).
    Returns (node_id, source_dataset, cluster_id).

    Faithful to the reference's iterative merge (one_to_one_clustering.py:
    103-336): per iteration, candidate inter-cluster links are ranked per
    endpoint cluster by (match_probability desc, other node id); an edge is
    accepted when it is rank 1 for BOTH clusters AND the two clusters'
    duplicate-free dataset flag sets are disjoint; accepted merges take the
    min representative; repeat to stability. Unconstrained transitive closure
    would let a chain A1-B1, B1-C1, C1-A2 collapse two records of a
    duplicate-free dataset A into one cluster.

    ``duplicate_free_datasets`` defaults to every dataset present in
    ``nodes`` (the reference requires the caller to name them; all-of-them is
    the common case this API exists for). Merges still happening after
    ``max_iterations`` rounds raise instead of returning unstable clusters.
    """
    if ties not in ("drop", "lowest_id"):
        raise ValueError("ties must be 'drop' or 'lowest_id'")
    from .materialize import MaterializationPolicy

    mat = materialization or MaterializationPolicy(method="local_checkpoint")

    if duplicate_free_datasets is None:
        duplicate_free_datasets = [
            r[0]
            for r in nodes.select(source_dataset_col).distinct().collect()
            if r[0] is not None
        ]
    dup_free = sorted(duplicate_free_datasets)

    live = edges.where(F.col(probability_col) >= threshold_match_probability)
    fwd = live.select(
        F.col(f"{node_col}_l").alias("nid"),
        F.col(f"{node_col}_r").alias("nbr"),
        F.col(f"{source_dataset_col}_l").alias("sd_l"),
        F.col(f"{source_dataset_col}_r").alias("sd_r"),
        F.col(probability_col).alias("p"),
    )
    rev = live.select(
        F.col(f"{node_col}_r").alias("nid"),
        F.col(f"{node_col}_l").alias("nbr"),
        F.col(f"{source_dataset_col}_r").alias("sd_l"),
        F.col(f"{source_dataset_col}_l").alias("sd_r"),
        F.col(probability_col).alias("p"),
    )
    nbrs = fwd.unionByName(rev)

    if ties == "drop":
        # Reference drop_ties_sqls (one_to_one_clustering.py:14-100): a link
        # is a tie when its (node, sd_l, sd_r, probability) group reaches >1
        # distinct counterparts in a duplicate-free dataset — on either side.
        # Ties are dropped per probability level, so a lower-probability
        # non-tied link can still be ranked and accepted.
        w_l = Window.partitionBy("nid", "sd_l", "sd_r", "p")
        w_r = Window.partitionBy("nbr", "sd_l", "sd_r", "p")
        # coalesce: a NULL source_dataset makes isin() NULL, which would
        # poison the conjunction and silently drop non-tied links
        nbrs = (
            nbrs.withColumn(
                "__tie_l",
                (F.size(F.collect_set("nbr").over(w_l)) > 1)
                & F.coalesce(F.col("sd_r").isin(dup_free), F.lit(False)),
            )
            .withColumn(
                "__tie_r",
                (F.size(F.collect_set("nid").over(w_r)) > 1)
                & F.coalesce(F.col("sd_l").isin(dup_free), F.lit(False)),
            )
            .where(~F.col("__tie_l") & ~F.col("__tie_r"))
            .drop("__tie_l", "__tie_r")
        )
    nbrs = mat.materialize(nbrs.select("nid", "nbr", "p"), "clustering")

    node_sd = nodes.select(
        F.col(node_col).alias("nid"), F.col(source_dataset_col).alias("sd")
    )
    rep = mat.materialize(
        node_sd.select("nid", F.col("nid").alias("representative"), "sd"),
        "clustering",
    )

    flag_cols = [f"__c{i}" for i in range(len(dup_free))]
    for _ in range(max_iterations):
        # per-cluster duplicate-free dataset membership flags
        # null-safe flags: (NULL == d) is NULL, and max(NULL) would leave the
        # flag NULL, making dup_criteria NULL and silently rejecting every
        # merge that touches an all-null-sd cluster
        flags = rep.groupBy("representative").agg(
            *[
                F.max(F.coalesce((F.col("sd") == F.lit(d)).cast("int"), F.lit(0))).alias(c)
                for d, c in zip(dup_free, flag_cols)
            ]
        )
        repf = rep.join(flags, on="representative").select(
            "nid", "representative", *flag_cols
        )
        l_side = repf.select(
            F.col("nid"),
            F.col("representative").alias("__rep_l"),
            *[F.col(c).alias(f"{c}_l") for c in flag_cols],
        )
        r_side = repf.select(
            F.col("nid").alias("nbr"),
            F.col("representative").alias("__rep_r"),
            *[F.col(c).alias(f"{c}_r") for c in flag_cols],
        )
        cand = nbrs.join(l_side, on="nid").join(r_side, on="nbr")
        dup_criteria = F.lit(False)
        for c in flag_cols:
            dup_criteria = dup_criteria | (
                (F.col(f"{c}_l") == 1) & (F.col(f"{c}_r") == 1)
            )
        cand = cand.where(
            (F.col("__rep_l") != F.col("__rep_r")) & ~dup_criteria
        )
        # mutual-best MATCHING over clusters: symmetrize the candidate edges
        # to (cluster, other_cluster) and keep an edge only when it is the
        # best incident edge for BOTH clusters (probability desc, lowest
        # other-rep tiebreak). A matching guarantees each cluster joins at
        # most one merge per round, so the per-edge duplicate-free check
        # implies the invariant for the merged result — chains (A-B accepted
        # AND B-C accepted) cannot combine three clusters in one round, which
        # could smuggle two records of a duplicate-free dataset into one
        # cluster even though each edge individually passed the check.
        edges_cl = cand.select(
            F.col("__rep_l").alias("__ca"), F.col("__rep_r").alias("__cb"), "p"
        ).groupBy("__ca", "__cb").agg(F.max("p").alias("p"))
        sym = edges_cl.select(
            F.col("__ca").alias("__c"), F.col("__cb").alias("__other"), "p"
        ).unionByName(
            edges_cl.select(
                F.col("__cb").alias("__c"), F.col("__ca").alias("__other"), "p"
            )
        )
        best = sym.withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("__c").orderBy(F.desc("p"), F.asc("__other"))
            ),
        ).where(F.col("__rk") == 1).select("__c", "__other")
        mutual = best.alias("a").join(
            best.alias("b"),
            (F.col("a.__c") == F.col("b.__other"))
            & (F.col("a.__other") == F.col("b.__c")),
        ).select(F.col("a.__c").alias("__c"), F.col("a.__other").alias("__other"))
        # apply the merge to EVERY member of both clusters (atomic
        # cluster-level merge — updating only the edge's endpoint nodes
        # would split multi-node clusters across representatives mid-run)
        mapping = mutual.select(
            "__c", F.least(F.col("__c"), F.col("__other")).alias("__new_rep")
        )
        new_rep = (
            rep.join(mapping, rep["representative"] == mapping["__c"], "left")
            .select(
                "nid",
                F.coalesce(F.col("__new_rep"), F.col("representative")).alias(
                    "representative"
                ),
            )
        )
        stepped = (
            new_rep.join(
                rep.select(
                    "nid",
                    F.col("representative").alias("__old_rep"),
                    "sd",
                ),
                on="nid",
            )
            .select(
                "nid",
                "representative",
                "sd",
                (F.col("representative") != F.col("__old_rep")).alias(
                    "__needs_updating"
                ),
            )
        )
        stepped = mat.materialize(stepped, "clustering", iterative=True)
        changed = stepped.where(F.col("__needs_updating")).count()
        rep = stepped.select("nid", "representative", "sd")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"single best links did not converge in {max_iterations} "
            f"iterations: {changed} nodes changed cluster in the last one"
        )

    return rep.select(
        F.col("nid").alias(node_col),
        F.col("sd").alias(source_dataset_col),
        F.col("representative").alias("cluster_id"),
    )


def cluster_at_multiple_thresholds(
    edges: DataFrame,
    nodes: DataFrame,
    thresholds: list[float],
    node_col: str = "node_id",
    edge_l_col: str = "node_id_l",
    edge_r_col: str = "node_id_r",
    probability_col: str = "match_probability",
    materialization=None,
) -> DataFrame:
    """Connected components at each threshold (reference clustering.py:
    158-601). Output: (threshold, node_id, cluster_id).

    Stable-cluster reuse (the reference's marginal-recompute design):
    thresholds are processed ascending; a cluster whose minimum internal edge
    probability >= the next threshold cannot split, so its assignment carries
    over unchanged and only the nodes of unstable clusters re-run CC (on the
    re-thresholded edges, which never cross cluster boundaries). Identical
    output to a full per-threshold re-run, but each step's CC input shrinks
    to the clusters actually at risk — the dominant cost saver when
    thresholds are dense or clusters are tight."""
    from .connected_components import solve_connected_components
    from .materialize import MaterializationPolicy

    if not thresholds:
        raise ValueError("cluster_at_multiple_thresholds needs >= 1 threshold")
    ts = sorted(set(thresholds))  # duplicates would duplicate output rows
    mat = materialization or MaterializationPolicy(method="local_checkpoint")
    # edges below the lowest threshold are never read by any step (every
    # read filters >= t with t >= min(ts)) — drop them before materializing
    edges = mat.materialize(
        edges.select(edge_l_col, edge_r_col, probability_col).where(
            F.col(probability_col) >= ts[0]
        ),
        "clustering",
    )
    out = None
    assign = None
    prev_t = None
    for t in ts:
        live = edges.where(F.col(probability_col) >= t)
        if assign is None:
            assign = solve_connected_components(
                live, nodes, node_col=node_col,
                edge_l_col=edge_l_col, edge_r_col=edge_r_col,
                materialization=mat,
            )
        else:
            # min internal edge probability per cluster, over the edges that
            # formed the previous assignment (>= prev_t); clusters absent
            # from this table have no edges (singletons) and are stable
            cluster_of = assign.select(
                F.col(node_col).alias(edge_l_col), F.col("cluster_id")
            )
            cluster_minp = (
                edges.where(F.col(probability_col) >= prev_t)
                .join(cluster_of, on=edge_l_col)
                .groupBy("cluster_id")
                .agg(F.min(probability_col).alias("__min_p"))
            )
            unstable = cluster_minp.where(F.col("__min_p") < t).select("cluster_id")
            stable_assign = assign.join(unstable, on="cluster_id", how="left_anti")
            unstable_nodes = assign.join(unstable, on="cluster_id").select(
                F.col(node_col)
            )
            # edges >= t never cross previous cluster boundaries, so CC over
            # just the unstable nodes is exact
            sub_edges = live.join(
                unstable_nodes.select(F.col(node_col).alias(edge_l_col)),
                on=edge_l_col,
            )
            sub_assign = solve_connected_components(
                sub_edges, unstable_nodes, node_col=node_col,
                edge_l_col=edge_l_col, edge_r_col=edge_r_col,
                materialization=mat,
            )
            assign = stable_assign.select(node_col, "cluster_id").unionByName(
                sub_assign
            )
            assign = mat.materialize(assign, "clustering", iterative=True)
        step = assign.withColumn("threshold", F.lit(float(t)))
        out = step if out is None else out.unionByName(step)
        prev_t = t
    return out.select("threshold", node_col, "cluster_id")
