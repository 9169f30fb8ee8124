"""Round-2 fixes: n_largest_blocks / pre-filter estimator / sampled counts /
jaro-winkler boost threshold / single-best-links chain consistency / chunked
predict blocking reuse.

Reference parity targets: blocking_analysis.py:78-190 (pre-filter),
:725-784 (n_largest_blocks), :601-677 (sampled counts),
one_to_one_clustering.py:103-336 (transitive closure), chunking.py:45-81.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_vectors as cv_mod
from splink_spark import Linker, SettingsCreator, block_on
from splink_spark import comparison_library as cl
from splink_spark.internals.blocking import (
    block_using_rules,
    count_comparisons_per_rule,
    estimate_comparisons_pre_filter,
    n_largest_blocks,
)
from splink_spark.internals.functions import _jaro_winkler
from splink_spark.internals.one_to_one import cluster_using_single_best_links


# -- jaro-winkler boost threshold --------------------------------------------


def test_jaro_winkler_matches_duckdb_across_boost_threshold():
    """The Winkler prefix boost only applies when jaro > 0.7 (ADVICE r1):
    pairs straddling the threshold must agree with DuckDB bit-for-bit."""
    pairs = [
        ("abcdef", "abczzz"),   # shared prefix, jaro <= 0.7 → no boost
        ("martha", "marhta"),   # jaro > 0.7 → boosted
        ("dixon", "dicksonx"),
        ("abcdef", "abcdez"),
        ("aaaaaa", "aaazzz"),
        ("ab", "azblah"),
        ("abc", "xyz"),
    ]
    con = duckdb.connect()
    for s1, s2 in pairs:
        expected = con.execute(
            "select jaro_winkler_similarity(?, ?)", [s1, s2]
        ).fetchone()[0]
        assert _jaro_winkler(s1, s2) == pytest.approx(expected, abs=1e-12), (s1, s2)


# -- n_largest_blocks / pre-filter estimator ---------------------------------


def test_n_largest_blocks_returns_key_values(persons):
    """Top blocks are the key VALUES with the largest count products —
    not a per-match_key total (VERDICT r1 'What's wrong' #1)."""
    top = n_largest_blocks(persons, block_on("city"), n_largest=2).collect()
    assert top[0]["key_0"] == "london"
    assert top[0]["count_l"] == 6 and top[0]["count_r"] == 6
    assert top[0]["block_count"] == 36
    assert top[1]["key_0"] in ("leeds", "manchester") and top[1]["block_count"] == 4
    # null city rows never join, so must not form a block
    all_keys = {
        r["key_0"] for r in n_largest_blocks(persons, block_on("city"), n_largest=10).collect()
    }
    assert None not in all_keys


def test_n_largest_blocks_multi_key(persons):
    top = n_largest_blocks(
        persons, block_on("city", "surname"), n_largest=3
    ).collect()
    # three blocks tie at 2 rows each: (london,taylor), (london,jones),
    # (leeds,smith) — all 2x2=4
    assert [r["block_count"] for r in top] == [4, 4, 4]
    assert {(r["key_0"], r["key_1"]) for r in top} == {
        ("london", "taylor"), ("london", "jones"), ("leeds", "smith")
    }


def test_pre_filter_estimate_matches_exact_join_per_key(persons):
    """count_l * count_r per key (dedupe: same-side self-product) equals the
    unfiltered join size per key."""
    est = {
        r["key_0"]: r["block_count"]
        for r in estimate_comparisons_pre_filter(persons, block_on("city")).collect()
    }
    exact = {
        r["city"]: r["n"]
        for r in persons.where(F.col("city").isNotNull())
        .groupBy("city")
        .agg((F.count(F.lit(1)) * F.count(F.lit(1))).alias("n"))
        .collect()
    }
    assert est == exact


def test_count_comparisons_single_job_and_cumulative(persons):
    rules = [block_on("dob"), block_on("city")]
    recs = count_comparisons_per_rule(persons, rules)
    # exact path: marginal counts match per-rule blocked counts
    exact_pairs = block_using_rules(persons, rules)
    per_key = {
        r["match_key"]: r["n"]
        for r in exact_pairs.groupBy("match_key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert recs[0]["marginal_comparison_count"] == per_key.get("0", 0)
    assert recs[1]["marginal_comparison_count"] == per_key.get("1", 0)
    assert recs[1]["cumulative_comparison_count"] == sum(per_key.values())
    n = persons.count()
    assert recs[0]["total_possible_comparison_count"] == n * (n - 1) // 2
    assert recs[0]["is_estimate"] is False
    # legacy keys preserved
    assert recs[0]["count"] == recs[0]["marginal_comparison_count"]


def test_count_comparisons_sampled_scales_back_up(spark):
    # 2000 rows in 10 blocks of 200 → exact pairs = 10 * C(200,2) = 199_000
    df = spark.range(2000).select(
        F.col("id").alias("unique_id"), F.pmod(F.col("id"), F.lit(10)).alias("b")
    )
    exact = count_comparisons_per_rule(df, [block_on("b")])[0]
    est = count_comparisons_per_rule(
        df, [block_on("b")], record_sample_proportion=0.25
    )[0]
    assert exact["marginal_comparison_count"] == 199_000
    assert est["is_estimate"] is True
    # deterministic hash sample: estimate within 40% of truth at this size
    assert est["marginal_comparison_count"] == pytest.approx(199_000, rel=0.4)


# -- single-best-links chain consistency -------------------------------------


def test_single_best_links_three_dataset_chain(spark):
    """Accepted chain A-B, B-C across three datasets must land in ONE cluster
    (VERDICT r1 'What's wrong' #3: one-shot min(endpoint) split it)."""
    nodes = spark.createDataFrame(
        [(3, "d1"), (2, "d2"), (1, "d3"), (9, "d1")],
        ["node_id", "source_dataset"],
    )
    edges = spark.createDataFrame(
        [
            (3, 2, "d1", "d2", 0.95),  # A-B
            (2, 1, "d2", "d3", 0.90),  # B-C
        ],
        ["node_id_l", "node_id_r", "source_dataset_l", "source_dataset_r", "match_probability"],
    )
    out = {r["node_id"]: r["cluster_id"] for r in
           cluster_using_single_best_links(edges, nodes).collect()}
    assert out[3] == out[2] == out[1] == 1
    assert out[9] == 9  # isolated node keeps its own id


def test_single_best_links_duplicate_free_guard(spark):
    """A chain A1-B1, B1-C1, C1-A2 must NOT merge A2 into the cluster that
    already holds A1 (ADVICE r2: unconstrained transitive closure collapsed
    two records of a duplicate-free dataset into one cluster)."""
    nodes = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C"), (4, "A")],
        ["node_id", "source_dataset"],
    )
    edges = spark.createDataFrame(
        [
            (1, 2, "A", "B", 0.95),  # A1-B1
            (2, 3, "B", "C", 0.90),  # B1-C1
            (3, 4, "C", "A", 0.85),  # C1-A2
        ],
        ["node_id_l", "node_id_r", "source_dataset_l", "source_dataset_r", "match_probability"],
    )
    out = {r["node_id"]: r["cluster_id"] for r in
           cluster_using_single_best_links(edges, nodes).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4, "second dataset-A record must stay out of the cluster"
    # per-cluster dataset uniqueness holds globally
    from collections import Counter
    sd = {1: "A", 2: "B", 3: "C", 4: "A"}
    for cid in set(out.values()):
        members = [n for n, c in out.items() if c == cid]
        counts = Counter(sd[m] for m in members)
        assert all(v == 1 for v in counts.values())


def test_single_best_links_longer_chain(spark):
    """5-dataset chain with descending ids — worst case for one-shot labels."""
    nodes = spark.createDataFrame(
        [(50, "a"), (40, "b"), (30, "c"), (20, "d"), (10, "e")],
        ["node_id", "source_dataset"],
    )
    edges = spark.createDataFrame(
        [
            (50, 40, "a", "b", 0.9),
            (40, 30, "b", "c", 0.9),
            (30, 20, "c", "d", 0.9),
            (20, 10, "d", "e", 0.9),
        ],
        ["node_id_l", "node_id_r", "source_dataset_l", "source_dataset_r", "match_probability"],
    )
    out = {r["node_id"]: r["cluster_id"] for r in
           cluster_using_single_best_links(edges, nodes).collect()}
    assert set(out.values()) == {10}


# -- chunked predict is the unchunked pipeline ---------------------------------


def _surname_settings():
    def _set(comp, mus):
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
        return comp

    return SettingsCreator(
        comparisons=[_set(cl.ExactMatch("surname"), {1: (0.9, 0.02), 0: (0.1, 0.98)})],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )


def test_chunked_predict_runs_blocking_join_once(spark, persons, monkeypatch):
    calls = {"n": 0}
    real = cv_mod.block_using_rules

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(cv_mod, "block_using_rules", counting)
    linker = Linker(persons, _surname_settings())
    result = linker.inference.predict(num_chunks=3)
    assert result.count() > 0
    assert calls["n"] == 1  # one blocking join, whatever num_chunks says


def test_chunked_predict_scores_registered_blocked_pairs(spark, persons):
    """Registered pairs replace the blocking join for every num_chunks
    value, and chunked output carries the persisted narrow core."""
    linker = Linker(persons, _surname_settings())
    linker.table_management.register_blocked_pairs_for_predict(
        spark.createDataFrame([(0, 1), (0, 6), (2, 3)], "join_key_l long, join_key_r long")
    )

    def ids(df):
        return sorted((r["unique_id_l"], r["unique_id_r"]) for r in df.collect())

    chunked = linker.inference.predict(num_chunks=2)
    assert ids(linker.inference.predict()) == ids(chunked) == [(0, 1), (0, 6), (2, 3)]
    assert hasattr(chunked, "_splink_narrow")


def test_single_best_links_merges_whole_clusters(spark):
    """A merge must move EVERY member of both clusters, not just the edge
    endpoints (review r3: endpoint-only updates split multi-node clusters
    mid-run), and per-round merges form a matching so the one-per-dataset
    invariant survives chains of accepted edges."""
    from collections import Counter, defaultdict

    nodes = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C"), (4, "D"), (5, "E"), (6, "F")],
        ["node_id", "source_dataset"],
    )
    # round 1 forms {1,2} (0.95) and {3,4} (0.94) and {5,6} (0.93);
    # round 2 must merge {1,2}+{3,4} via the 2-3 edge (0.90) moving ALL
    # four members; 4-5 (0.80) merges the rest in round 3
    edges = spark.createDataFrame(
        [
            (1, 2, "A", "B", 0.95),
            (3, 4, "C", "D", 0.94),
            (5, 6, "E", "F", 0.93),
            (2, 3, "B", "C", 0.90),
            (4, 5, "D", "E", 0.80),
        ],
        ["node_id_l", "node_id_r", "source_dataset_l", "source_dataset_r", "match_probability"],
    )
    out = {r["node_id"]: r["cluster_id"] for r in
           cluster_using_single_best_links(edges, nodes).collect()}
    assert len(set(out.values())) == 1, f"all six should merge: {out}"

    # randomized invariant check: never two records of one dataset per cluster
    import random

    rng = random.Random(5)
    sds = ["A", "B", "C", "D"]
    node_rows = [(i, sds[i % 4]) for i in range(24)]
    edge_rows = []
    seen = set()
    for _ in range(40):
        a, b = rng.sample(range(24), 2)
        if a > b:
            a, b = b, a
        if (a, b) in seen or node_rows[a][1] == node_rows[b][1]:
            continue
        seen.add((a, b))
        edge_rows.append(
            (a, b, node_rows[a][1], node_rows[b][1], round(rng.uniform(0.5, 1.0), 3))
        )
    nodes2 = spark.createDataFrame(node_rows, ["node_id", "source_dataset"])
    edges2 = spark.createDataFrame(
        edge_rows,
        ["node_id_l", "node_id_r", "source_dataset_l", "source_dataset_r", "match_probability"],
    )
    out2 = cluster_using_single_best_links(edges2, nodes2).collect()
    bycl = defaultdict(list)
    for r in out2:
        bycl[r["cluster_id"]].append(r["source_dataset"])
    for cid, ds in bycl.items():
        assert all(v == 1 for v in Counter(ds).values()), (cid, ds)


def test_blocked_pairs_chunks_partition_exactly(spark, persons):
    """The (i, j) chunk grid unions to exactly the unchunked pair table."""
    import splink_spark.internals.comparison_library as cl
    from splink_spark import Linker, SettingsCreator, block_on

    settings = SettingsCreator(
        comparisons=[cl.ExactMatch("city")],
        blocking_rules_to_generate_predictions=[block_on("city")],
    )
    linker = Linker(persons, settings)
    full = {(r["join_key_l"], r["join_key_r"])
            for r in linker.inference.compute_blocked_pairs_for_predict().collect()}
    parts = []
    for i in range(2):
        for j in range(2):
            parts.append({
                (r["join_key_l"], r["join_key_r"])
                for r in linker.inference.compute_blocked_pairs_for_predict_chunk(
                    (i, 2), (j, 2)
                ).collect()
            })
    assert set().union(*parts) == full
    assert sum(len(p) for p in parts) == len(full)  # disjoint
