"""as-of join and range join: literal semantics (pandas merge_asof
conventions), tie-breaks, tolerance, and plan-shape pins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splink_spark.pipeline.temporal import asof_join, range_join


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("a", 10, "t1"), ("a", 25, "t2"), ("a", 30, "t3"),
            ("b", 5, "t4"), ("b", 100, "t5"),
            ("c", 50, "t6"),  # key with no quotes at all
        ],
        "sym string, ts long, trade string",
    )
    quotes = spark.createDataFrame(
        [
            ("a", 8, 1.0, 100), ("a", 25, 2.0, 101), ("a", 25, 2.5, 102),
            ("a", 40, 3.0, 103),
            ("b", 50, 9.0, 104),
        ],
        "sym string, ts long, px double, qid long",
    )
    return trades, quotes


def _rows(df, *cols):
    return {
        r["trade"]: tuple(r[c] for c in cols)
        for r in df.collect()
    }


def test_asof_backward_inclusive_with_tiebreak(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="sym", tie_break_col="qid")
    got = _rows(out, "r_ts", "r_px", "r_qid")
    assert got["t1"] == (8, 1.0, 100)     # greatest quote ts <= 10
    assert got["t2"] == (25, 2.5, 102)    # inclusive equality; max qid wins
    assert got["t3"] == (25, 2.5, 102)
    assert got["t4"] == (None, None, None)  # nothing at or before ts=5
    assert got["t5"] == (50, 9.0, 104)
    assert got["t6"] == (None, None, None)  # key never quoted


def test_asof_forward_and_nearest(trades_quotes):
    trades, quotes = trades_quotes
    fwd = _rows(
        asof_join(trades, quotes, on="ts", by="sym", direction="forward",
                  tie_break_col="qid"),
        "r_ts", "r_qid",
    )
    assert fwd["t1"] == (25, 101)   # least quote ts >= 10; min qid wins ties
    assert fwd["t2"] == (25, 101)   # inclusive
    assert fwd["t3"] == (40, 103)
    assert fwd["t4"] == (50, 104)
    assert fwd["t5"] == (None, None)
    near = _rows(
        asof_join(trades, quotes, on="ts", by="sym", direction="nearest",
                  tie_break_col="qid"),
        "r_ts",
    )
    assert near["t1"] == (8,)     # |10-8| < |10-25|
    assert near["t3"] == (25,)    # |30-25| < |30-40|
    assert near["t4"] == (50,)    # only a forward match exists
    assert near["t5"] == (50,)    # only a backward match exists


def test_asof_tolerance_nulls_far_matches(trades_quotes):
    trades, quotes = trades_quotes
    out = _rows(
        asof_join(trades, quotes, on="ts", by="sym", tolerance=5,
                  tie_break_col="qid"),
        "r_ts",
    )
    assert out["t1"] == (8,)       # delta 2 <= 5
    assert out["t5"] == (None,)    # delta 50 > 5


def test_asof_single_shuffle_no_join_nodes(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="sym", tie_break_col="qid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # union + window, never a join operator
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_matches_naive_inequality_join(spark):
    points = spark.createDataFrame(
        [(i, i * 37 % 500) for i in range(80)], "pid long, t long"
    )
    intervals = spark.createDataFrame(
        [(j, j * 53 % 400, j * 53 % 400 + 25 + j % 90) for j in range(40)],
        "iid long, lo long, hi long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "t", "lo", "hi", bin_size=32).collect()
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in points.join(
            intervals, (points["t"] >= intervals["lo"]) & (points["t"] < intervals["hi"])
        ).collect()
    )
    assert got == want and len(got) > 0


def test_range_join_plan_is_equi_join(spark):
    points = spark.createDataFrame([(1, 10)], "pid long, t long")
    intervals = spark.createDataFrame([(1, 5, 40)], "iid long, lo long, hi long")
    plan = (
        range_join(points, intervals, "t", "lo", "hi", bin_size=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_time_rollup_matches_per_granularity_groupbys(spark):
    from splink_spark.pipeline.temporal import time_rollup

    df = spark.createDataFrame(
        [(i, "u%d" % (i % 3), i * 7919 % 1000, float(i % 13)) for i in range(500)],
        "event_id long, user string, t long, v double",
    )
    out = time_rollup(df, "t", "v", granularities=(10, 100), by="user")
    got = {
        (r["user"], r["granularity"], r["bucket_start"]):
            (r["n"], r["sum_value"], r["min_value"], r["max_value"], r["avg_value"])
        for r in out.collect()
    }
    want = {}
    for g in (10, 100):
        agg = (
            df.withColumn("b", (F.col("t") / g).cast("long") * g)
            .groupBy("user", "b")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("v"), 6).alias("s"),
                F.round(F.min("v"), 6).alias("mn"),
                F.round(F.max("v"), 6).alias("mx"),
                F.round(F.avg("v"), 6).alias("av"),
            )
        )
        for r in agg.collect():
            want[(r["user"], g, r["b"])] = (r["n"], r["s"], r["mn"], r["mx"], r["av"])
    assert got == want


def test_time_rollup_single_expand_single_aggregate_exchange(spark):
    from splink_spark.pipeline.temporal import time_rollup

    df = spark.createDataFrame([(1, "u", 5, 1.0)], "e long, user string, t long, v double")
    plan = (
        time_rollup(df, "t", "v", granularities=(10, 100, 1000), by="user")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # all three granularities share ONE Expand and ONE aggregation exchange
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_bucketed_identical_to_plain(spark, direction):
    """The skew-salted (bucketed) as-of must produce EXACTLY the plain
    window's output, including cross-bucket matches and left-only and
    empty buckets."""
    from splink_spark.pipeline.temporal import asof_join

    left = spark.createDataFrame(
        [("k%d" % (i % 3), i * 17 % 1000, i) for i in range(200)],
        "key string, ts long, lid long",
    )
    right = spark.createDataFrame(
        [("k%d" % (j % 4), j * 61 % 900, float(j), j) for j in range(60)],
        "key string, ts long, px double, rid long",
    )
    plain = asof_join(left, right, on="ts", by="key", direction=direction,
                      tie_break_col="rid")
    bucketed = asof_join(left, right, on="ts", by="key", direction=direction,
                         tie_break_col="rid", bucket_size=50)
    k = lambda r: (r["key"], r["lid"])
    got = {k(r): (r["r_ts"], r["r_px"], r["r_rid"]) for r in bucketed.collect()}
    want = {k(r): (r["r_ts"], r["r_px"], r["r_rid"]) for r in plain.collect()}
    assert got == want


def test_asof_bucketed_window_partitions_include_bucket(spark):
    from splink_spark.pipeline.temporal import asof_join

    left = spark.createDataFrame([("a", 10, 1)], "key string, ts long, lid long")
    right = spark.createDataFrame([("a", 5, 1.0)], "key string, ts long, px double")
    plan = (
        asof_join(left, right, on="ts", by="key", bucket_size=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "__asof_bucket" in plan  # the hot-key salt is in the partition key


def test_funnel_greedy_earliest_with_window(spark):
    from splink_spark.pipeline.temporal import funnel

    rows = [
        # u1 completes view->click->buy in order
        ("u1", 10, "view"), ("u1", 20, "click"), ("u1", 30, "buy"),
        # u2 clicks BEFORE viewing: click at 5 doesn't count; second click ok
        ("u2", 5, "click"), ("u2", 10, "view"), ("u2", 15, "click"),
        # u3 views only
        ("u3", 1, "view"),
        # u4 completes but too slowly for within=25
        ("u4", 0, "view"), ("u4", 10, "click"), ("u4", 40, "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    out = {r["step_name"]: (r["users"], r["conversion"])
           for r in funnel(df, ["view", "click", "buy"]).collect()}
    assert out["view"] == (4, 1.0)
    assert out["click"] == (3, 0.75)   # u1, u2 (second click), u4
    assert out["buy"] == (2, 0.5)      # u1, u4
    bounded = {r["step_name"]: r["users"]
               for r in funnel(df, ["view", "click", "buy"], within=25).collect()}
    assert bounded["buy"] == 1         # u4's buy at 40 > 0+25


def test_sessionize_matches_gate_semantics(spark):
    from splink_spark.pipeline.temporal import sessionize

    rows = [
        ("u1", 0, 1), ("u1", 100, 2), ("u1", 1101, 3),  # gap 1001 > 1000 → new
        ("u1", 2101, 4),                                  # gap exactly 1000 → same
        ("u2", 50, 5),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_id long")
    out = {r["event_id"]: r["session_idx"]
           for r in sessionize(df, gap=1000, order_cols="event_id").collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_matches_pandas_merge_asof(spark, direction):
    """Independent-reference cross-check: pandas.merge_asof implements the
    same semantics (inclusive, per-key, tolerance). Right side deduped per
    (key, ts) so tie order cannot differ."""
    import pandas as pd

    from splink_spark.pipeline.temporal import asof_join

    left_pd = pd.DataFrame({
        "key": [f"k{i % 4}" for i in range(120)],
        "ts": [(i * 37) % 500 for i in range(120)],
        "lid": range(120),
    })
    right_pd = pd.DataFrame({
        "key": [f"k{j % 5}" for j in range(50)],
        "ts": [(j * 91) % 450 for j in range(50)],
        "px": [float(j) for j in range(50)],
    }).drop_duplicates(subset=["key", "ts"], keep="last")

    want_pd = pd.merge_asof(
        left_pd.sort_values("ts", kind="stable"),
        right_pd.sort_values("ts", kind="stable").rename(columns={"ts": "r_ts"}),
        left_on="ts", right_on="r_ts", by="key",
        direction=direction, tolerance=120,
    )
    want = {
        int(r.lid): (None if pd.isna(r.r_ts) else int(r.r_ts),
                     None if pd.isna(r.px) else float(r.px))
        for r in want_pd.itertuples()
    }
    out = asof_join(
        spark.createDataFrame(left_pd),
        spark.createDataFrame(right_pd),
        on="ts", by="key", direction=direction, tolerance=120,
    )
    got = {int(r["lid"]): (r["r_ts"], r["r_px"]) for r in out.collect()}
    assert got == want


def test_retention_cohort_literals(spark):
    from splink_spark.pipeline.temporal import retention

    rows = [
        # cohort 0: u1 active periods 0,1,2; u2 active 0,2; u3 active 0 only
        ("u1", 5), ("u1", 15), ("u1", 25),
        ("u2", 7), ("u2", 21),
        ("u3", 9),
        # cohort 1: u4 active periods 1,2
        ("u4", 12), ("u4", 27),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long")
    out = {(r["cohort_start"], r["period_index"]): (r["n_users"], r["retention_frac"])
           for r in retention(df, period=10, max_periods=4).collect()}
    assert out[(0, 0)] == (3, 1.0)
    assert out[(0, 1)] == (1, pytest.approx(1 / 3, abs=1e-6))
    assert out[(0, 2)] == (2, pytest.approx(2 / 3, abs=1e-6))
    assert out[(10, 0)] == (1, 1.0)
    assert out[(10, 1)] == (1, 1.0)
    assert (0, 3) not in out  # nobody active period 3


def test_pagerank_matches_pure_python_integer_reference(spark):
    """The exact-int64 update must match a serial Python implementation of
    the same integer arithmetic, and a hub must outrank leaves."""
    from splink_spark.pipeline.graph import UNIT, pagerank

    edge_list = [(0, i) for i in range(1, 6)] + [(1, 2), (3, 4), (5, 6)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank_units"]
           for r in pagerank(edges, iterations=4).collect()}

    # serial reference with identical truncating integer arithmetic
    und = set()
    for a, b in edge_list:
        und.add((a, b)); und.add((b, a))
    nodes = sorted({x for e in und for x in e})
    deg = {n: sum(1 for s, _ in und if s == n) for n in nodes}
    r = {n: UNIT for n in nodes}
    d = 850_000
    for _ in range(4):
        s = {n: 0 for n in nodes}
        for a, b in und:
            s[b] += r[a] // deg[a]
        r = {n: (UNIT - d) + (d * s[n]) // UNIT for n in nodes}
    assert got == r
    assert got[0] == max(got.values())  # the hub


def test_pagerank_deterministic_across_runs(spark):
    from splink_spark.pipeline.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(300)], "src long, dst long"
    ).where("src != dst")
    a = sorted(map(tuple, pagerank(edges, iterations=5).collect()))
    b = sorted(map(tuple, pagerank(edges, iterations=5).collect()))
    assert a == b


def test_label_propagation_matches_serial_reference(spark):
    """Synchronous LPA with min-label ties must match a serial Python
    replay, and two cliques joined by one bridge edge must settle into two
    communities."""
    from splink_spark.pipeline.graph import label_propagation

    clique1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edge_list = clique1 + clique2 + [(3, 10)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, iterations=3).collect()}

    und = set()
    for a, b in edge_list:
        und.add((a, b)); und.add((b, a))
    nodes = sorted({x for p in und for x in p})
    lab = {n: n for n in nodes}
    for _ in range(3):
        new = {}
        for v in nodes:
            cnt = {}
            for a, b in und:
                if b == v:
                    cnt[lab[a]] = cnt.get(lab[a], 0) + 1
            new[v] = (min((k for k, c in cnt.items()
                           if c == max(cnt.values())))
                      if cnt else v)
        lab = new
    assert got == lab
    # both cliques collapse to single labels
    assert len({got[n] for n in range(4)}) == 1
    assert len({got[n] for n in range(10, 14)}) == 1


def test_asof_tiebreak_numeric_across_digit_lengths(spark):
    """Numeric tie-break ids with different digit counts: max wins for
    backward must pick 10 over 9 (a string cast would compare
    lexicographically and pick "9"); forward's min must pick 9 over 10."""
    trades = spark.createDataFrame(
        [("a", 20, "t1")], "sym string, ts long, trade string"
    )
    quotes = spark.createDataFrame(
        [("a", 20, 1.0, 9), ("a", 20, 2.0, 10)],
        "sym string, ts long, px double, qid long",
    )
    for bucket in (None, 7):
        back = asof_join(
            trades, quotes, on="ts", by="sym", tie_break_col="qid",
            bucket_size=bucket,
        ).collect()[0]
        assert back["r_qid"] == 10 and back["r_px"] == 2.0
        fwd = asof_join(
            trades, quotes, on="ts", by="sym", direction="forward",
            tie_break_col="qid", bucket_size=bucket,
        ).collect()[0]
        assert fwd["r_qid"] == 9 and fwd["r_px"] == 1.0


def test_asof_tiebreak_keeps_native_column_type(spark):
    """A genuinely-string tie-break column still works (native type kept,
    no forced cast either way)."""
    trades = spark.createDataFrame(
        [("a", 20, "t1")], "sym string, ts long, trade string"
    )
    quotes = spark.createDataFrame(
        [("a", 20, 1.0, "x"), ("a", 20, 2.0, "y")],
        "sym string, ts long, px double, qid string",
    )
    back = asof_join(
        trades, quotes, on="ts", by="sym", tie_break_col="qid"
    ).collect()[0]
    assert back["r_qid"] == "y"


def test_time_rollup_integer_buckets_above_double_precision(spark):
    """Epoch-nanos sit above 2^53: a timestamp one nano BELOW a bucket
    boundary must stay in the earlier bucket. Double division rounds
    k*g - 1 up to k*g (ulp ~256 ns at 1.7e18) and mis-buckets it."""
    from splink_spark.pipeline.temporal import time_rollup

    g = 3_600_000_000_000  # 1h in nanos
    k = 472_223            # k*g ~ 1.70000280e18 epoch-nanos (> 2^53)
    ts = k * g - 1
    df = spark.createDataFrame([(ts, 1.0)], "ts long, value double")
    row = time_rollup(df, "ts", "value", granularities=(g,)).collect()[0]
    assert row["bucket_start"] == (k - 1) * g
    assert row["n"] == 1


def test_retention_integer_periods_above_double_precision(spark):
    """Same boundary at retention's cohort math: first activity one nano
    below a period boundary belongs to the EARLIER period."""
    from splink_spark.pipeline.temporal import retention

    day = 86_400_000_000_000
    k = 19_676             # k*day ~ 1.70000640e18 (> 2^53)
    df = spark.createDataFrame(
        [(1, k * day - 1), (1, k * day + 5)], "user_id long, ts long"
    )
    rows = {r["period_index"]: r for r in retention(df, period=day).collect()}
    # cohort anchored at period k-1; second event lands in period k => k=1
    assert rows[0]["cohort_start"] == (k - 1) * day
    assert set(rows) == {0, 1}


def test_asof_bucketed_integer_bucketing_above_double_precision(spark):
    """Bucketed as-of at epoch-nanos magnitudes: output must still equal
    the unbucketed pass when ts values straddle a double-rounding
    boundary."""
    g = 3_600_000_000_000
    k = 472_223
    base = k * g
    trades = spark.createDataFrame(
        [("a", base - 1, "t1"), ("a", base + 5, "t2")],
        "sym string, ts long, trade string",
    )
    quotes = spark.createDataFrame(
        [("a", base - 3, 1.0, 1), ("a", base + 2, 2.0, 2)],
        "sym string, ts long, px double, qid long",
    )
    plain = {
        r["trade"]: r["r_qid"]
        for r in asof_join(
            trades, quotes, on="ts", by="sym", tie_break_col="qid"
        ).collect()
    }
    bucketed = {
        r["trade"]: r["r_qid"]
        for r in asof_join(
            trades, quotes, on="ts", by="sym", tie_break_col="qid",
            bucket_size=g,
        ).collect()
    }
    assert plain == bucketed == {"t1": 1, "t2": 2}


def test_triangle_count_matches_networkx(spark):
    """Global and per-node triangle counts + local clustering coefficient
    against networkx on a random graph (independent implementation)."""
    import random

    import networkx as nx

    from splink_spark.pipeline.graph import triangle_count

    random.seed(3)
    edges = set()
    while len(edges) < 400:
        a, b = random.randint(0, 60), random.randint(0, 60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    g = nx.Graph()
    g.add_edges_from(edges)
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = triangle_count(df).collect()[0]["n_triangles"]
    assert got == sum(nx.triangles(g).values()) // 3
    per = {
        r["node"]: (r["degree"], r["triangles"], r["lcc"])
        for r in triangle_count(df, per_node=True).collect()
    }
    tri, cc = nx.triangles(g), nx.clustering(g)
    for n in g.nodes:
        d, t, l = per[n]
        assert d == g.degree[n] and t == tri[n]
        assert abs(l - round(cc[n], 6)) < 1e-9


def test_triangle_count_literals_and_edge_cases(spark):
    from splink_spark.pipeline.graph import triangle_count

    # triangle + pendant edge + self loop + duplicate/reversed edges
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 4), (5, 5)],
        "src long, dst long",
    )
    assert triangle_count(df).collect()[0]["n_triangles"] == 1
    per = {r["node"]: r for r in triangle_count(df, per_node=True).collect()}
    assert per[1]["triangles"] == per[2]["triangles"] == per[3]["triangles"] == 1
    assert per[4]["triangles"] == 0 and per[4]["lcc"] == 0.0
    assert 5 not in per  # self-loop-only node has no real edges
    assert per[3]["degree"] == 3 and per[3]["lcc"] == round(2 * 1 / (3 * 2), 6)


def test_common_neighbors_matches_networkx(spark):
    import random
    from itertools import combinations

    import networkx as nx

    from splink_spark.pipeline.graph import common_neighbors

    random.seed(5)
    edges = set()
    while len(edges) < 300:
        a, b = random.randint(0, 50), random.randint(0, 50)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    g = nx.Graph()
    g.add_edges_from(edges)
    want = {}
    for a, b in combinations(sorted(g.nodes), 2):
        cn = len(set(g[a]) & set(g[b]))
        if cn >= 2:
            want[(a, b)] = (cn, round(cn / len(set(g[a]) | set(g[b])), 6))
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["jaccard"])
        for r in common_neighbors(df, min_common=2).collect()
    }
    assert got == want


def test_common_neighbors_max_degree_drops_hub_apex(spark):
    from splink_spark.pipeline.graph import common_neighbors

    # star: hub 0 connected to 1..5; spokes share ONLY the hub
    star = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(star, "src long, dst long")
    full = common_neighbors(df, min_common=1).collect()
    assert len(full) == 10  # C(5,2) spoke pairs via the hub
    capped = common_neighbors(df, min_common=1, max_degree=3).collect()
    assert capped == []  # hub (deg 5) removed as apex -> no wedges


def test_common_neighbors_auto_caps_hubs_with_warning(spark):
    import warnings

    from splink_spark.pipeline.graph import common_neighbors

    star = [(0, i) for i in range(1, 8)]
    df = spark.createDataFrame(star, "src long, dst long")
    # below the cap: auto is exact, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        exact = common_neighbors(df, min_common=1, auto_cap=100).collect()
    assert len(exact) == 21  # C(7,2)
    # above the cap: warns and drops the hub apex
    with pytest.warns(UserWarning, match="auto_cap"):
        capped = common_neighbors(df, min_common=1, auto_cap=3).collect()
    assert capped == []


def test_k_core_matches_networkx(spark):
    import random

    import networkx as nx

    from splink_spark.pipeline.graph import k_core

    random.seed(11)
    edges = set()
    while len(edges) < 500:
        a, b = random.randint(0, 80), random.randint(0, 80)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    g = nx.Graph()
    g.add_edges_from(edges)
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    for k in (3, 8, 30):  # partial core, deep core, empty core
        got = {r["node"]: r["degree"] for r in k_core(df, k).collect()}
        assert got == dict(nx.k_core(g, k).degree()), k


def test_k_core_plan_stays_bounded_across_iterations(spark):
    """The per-iteration localCheckpoint must truncate lineage: after
    peeling, the result's logical plan size is independent of how many
    iterations ran (3^i blowup otherwise — the bug this pins)."""
    from splink_spark.pipeline.graph import k_core

    chain = [(i, i + 1) for i in range(50)]  # path graph: 1-core = all
    df = spark.createDataFrame(chain, "src long, dst long")
    out = k_core(df, 2)  # path peels from both ends, many iterations
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 4, plan.count("Join")
    assert out.count() == 0  # a path has no 2-core


def test_k_core_raises_when_peeling_outlasts_max_iterations(spark):
    """Peeling still under way at ``max_iterations`` raises instead of
    returning a subgraph that is not the core; within the cap the core is
    returned as before."""
    from splink_spark.pipeline.graph import k_core

    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(chain, 2, max_iterations=1)
    # a triangle with a tail: one peel, then one pass that finds nothing
    tailed = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(tailed, 2, max_iterations=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_gap_fill_locf_literals(spark):
    from splink_spark.pipeline.temporal import gap_fill

    rows = [("a", 10, 1.0), ("a", 11, 2.0), ("a", 45, 3.0),
            ("b", 100, 7.0), ("a", 12, 4.0)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = {(r["k"], r["bucket_start"]): (r["value"], r["observed"])
           for r in gap_fill(df, bucket=10, by="k").collect()}
    # bucket 10 holds three obs -> mean (1+2+4)/3; gaps 20,30 carry it
    assert got[("a", 10)] == (pytest.approx(2.333333), True)
    assert got[("a", 20)] == (pytest.approx(2.333333), False)
    assert got[("a", 30)] == (pytest.approx(2.333333), False)
    assert got[("a", 40)] == (3.0, True)
    assert got[("b", 100)] == (7.0, True)
    assert len(got) == 5  # grid spans first..last bucket per key only


def test_gap_fill_zero_and_null_methods(spark):
    from splink_spark.pipeline.temporal import gap_fill

    df = spark.createDataFrame(
        [("a", 5, 1.0), ("a", 25, 2.0)], "k string, ts long, value double"
    )
    z = {r["bucket_start"]: r["value"]
         for r in gap_fill(df, bucket=10, by="k", method="zero").collect()}
    assert z == {0: 1.0, 10: 0.0, 20: 2.0}
    n = {r["bucket_start"]: r["value"]
         for r in gap_fill(df, bucket=10, by="k", method="null").collect()}
    assert n[10] is None


def test_rolling_aggregate_trailing_window_literals(spark):
    from splink_spark.pipeline.temporal import rolling_aggregate

    rows = [("a", 0, 1.0), ("a", 5, 2.0), ("a", 10, 4.0), ("a", 30, 8.0),
            ("b", 3, 5.0)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = {(r["k"], r["ts"]): (r["w_count"], r["w_sum"], r["w_mean"])
           for r in rolling_aggregate(df, by="k", window_size=10).collect()}
    assert got[("a", 0)] == (1, 1.0, 1.0)
    assert got[("a", 5)] == (2, 3.0, 1.5)   # [-5, 5] inclusive
    assert got[("a", 10)] == (3, 7.0, pytest.approx(7 / 3, abs=1e-6))
    assert got[("a", 30)] == (1, 8.0, 8.0)  # window [20, 30]: alone
    assert got[("b", 3)] == (1, 5.0, 5.0)   # keys independent


def test_rolling_and_gapfill_mean_skips_null_values(spark):
    """SQL AVG semantics (ADVICE r06): a row with NULL value stays in
    w_count but carries zero weight in w_mean — the denominator is the
    non-null count, not the row count."""
    from splink_spark.pipeline.temporal import gap_fill, rolling_aggregate

    rows = [("a", 0, 2.0), ("a", 5, None), ("a", 8, 4.0)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = {r["ts"]: (r["w_count"], r["w_sum"], r["w_mean"])
           for r in rolling_aggregate(df, by="k", window_size=10).collect()}
    assert got[8] == (3, 6.0, 3.0)  # mean over {2,4}, not sum/3
    assert got[5] == (2, 2.0, 2.0)

    g = {r["bucket_start"]: r["value"]
         for r in gap_fill(df, bucket=10, by="k", method="null").collect()}
    assert g[0] == 3.0  # bucket mean over the two non-null values


def test_conversion_attribution_first_last_touch(spark):
    """Segmenting at conversions: touches attribute to the NEXT conversion;
    trailing touches are dropped; a touchless conversion keeps NULLs."""
    from splink_spark.pipeline.temporal import conversion_attribution

    rows = [
        # user 1: view, click -> buy ; click -> buy ; view (trailing)
        (1, 10, 1, "view", 0.0),
        (1, 20, 2, "click", 0.0),
        (1, 30, 3, "buy", 9.5),
        (1, 40, 4, "click", 0.0),
        (1, 50, 5, "buy", 1.5),
        (1, 60, 6, "view", 0.0),
        # user 2: conversion with no preceding touch
        (2, 10, 7, "buy", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts long, event_id int, event_type string, value double"
    )
    out = {
        (r["user_id"], r["conversion_ts"]): r
        for r in conversion_attribution(
            df, "buy", order_cols="event_id"
        ).collect()
    }
    assert len(out) == 3
    r1 = out[(1, 30)]
    assert (r1["first_touch"], r1["last_touch"], r1["n_touches"]) == (
        "view", "click", 2,
    )
    assert (r1["first_touch_ts"], r1["last_touch_ts"]) == (10, 20)
    r2 = out[(1, 50)]
    assert (r2["first_touch"], r2["last_touch"], r2["n_touches"]) == (
        "click", "click", 1,
    )
    r3 = out[(2, 10)]
    assert r3["first_touch"] is None and r3["n_touches"] == 0
    assert r3["conversion_value"] == 3.0


def test_conversion_attribution_touch_types_and_ties(spark):
    """touch_types restricts the touch pool; event_id breaks ts ties
    deterministically."""
    from splink_spark.pipeline.temporal import conversion_attribution

    rows = [
        (1, 10, 1, "view", 0.0),
        (1, 10, 2, "error", 0.0),   # same ts as view: tie broken by id
        (1, 10, 3, "click", 0.0),
        (1, 30, 4, "buy", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts long, event_id int, event_type string, value double"
    )
    all_touch = conversion_attribution(df, "buy", order_cols="event_id").collect()[0]
    assert (all_touch["first_touch"], all_touch["last_touch"]) == ("view", "click")
    restricted = conversion_attribution(
        df, "buy", order_cols="event_id", touch_types=["view", "click"]
    ).collect()[0]
    assert (restricted["first_touch"], restricted["n_touches"]) == ("view", 2)


def test_event_paths_sessions_and_counts(spark):
    from splink_spark.pipeline.temporal import event_paths

    NS = 1_000_000_000
    rows = []
    # user 1: [a,b,c] then (3h later, new session) [a,b]
    for i, e in enumerate(["a", "b", "c"]):
        rows.append((i, 1, i * 60 * NS, e))
    for i, e in enumerate(["a", "b"]):
        rows.append((10 + i, 1, 3 * 3600 * NS + i * 60 * NS, e))
    # user 2: one session [a,b,c]
    for i, e in enumerate(["a", "b", "c"]):
        rows.append((20 + i, 2, i * 60 * NS, e))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts bigint, event_type string"
    )
    got = [
        (r["path"], r["n_sessions"], r["n_steps"])
        for r in event_paths(df, max_steps=5, order_cols="event_id").collect()
    ]
    assert got == [("a > b > c", 2, 3), ("a > b", 1, 2)]
    # max_steps truncation: the long session becomes a 2-step path
    trunc = {
        r["path"]: r["n_sessions"]
        for r in event_paths(df, max_steps=2, order_cols="event_id").collect()
    }
    assert trunc == {"a > b": 3}


def test_merge_intervals_islands_and_gap_bridge(spark):
    from splink_spark.pipeline.temporal import merge_intervals

    iv = spark.createDataFrame(
        [("a", 1, 5), ("a", 3, 8), ("a", 8, 10), ("a", 15, 20),
         ("b", 0, 2), ("a", None, 3)],
        "k string, start bigint, end bigint",
    )
    out = sorted(map(tuple, merge_intervals(iv, by="k").collect()))
    # touching intervals merge; NULL-bounded rows drop
    assert out == [("a", 1, 10, 3), ("a", 15, 20, 1), ("b", 0, 2, 1)]
    bridged = sorted(map(tuple, merge_intervals(iv, by="k", min_gap=5).collect()))
    assert bridged == [("a", 1, 20, 4), ("b", 0, 2, 1)]
    # containment: an interval inside the running span must not split it
    cont = spark.createDataFrame(
        [("a", 0, 100), ("a", 10, 20), ("a", 30, 40), ("a", 100, 110)],
        "k string, start bigint, end bigint",
    )
    got = sorted(map(tuple, merge_intervals(cont, by="k").collect()))
    assert got == [("a", 0, 110, 4)]


def test_time_weighted_average_step_semantics(spark):
    from splink_spark.pipeline.temporal import time_weighted_average

    tw = spark.createDataFrame(
        [("a", 0, 2.0), ("a", 4, 10.0), ("a", 12, 4.0), ("a", 15, 6.0),
         ("a", 17, None)],
        "k string, ts bigint, value double",
    )
    res = {
        r["bucket_start"]: (r["twa"], r["n_obs"])
        for r in time_weighted_average(tw, by="k", bucket=10).collect()
    }
    # bucket 0: 2 held 0-4 (w4) + 10 held 4-10 (w6) -> 68/10 = 6.8
    # bucket 10: 10 held 10-12 (w2) + 4 held 12-15 (w3) -> 32/5 = 6.4
    # (NULL value drops; last obs has nothing to hold until -> no weight)
    assert res == {0: (6.8, 2), 10: (6.4, 2)}


def test_time_weighted_average_duplicate_timestamps(spark):
    from splink_spark.pipeline.temporal import time_weighted_average

    # duplicate timestamps: the superseded observation is a zero-
    # duration step and must not reach the output — especially on an
    # exact bucket boundary, where (t-1) div b < t div b would make
    # F.sequence generate a DESCENDING range (spurious segments,
    # inflated n_obs, possible 0/0 buckets)
    tw = spark.createDataFrame(
        [
            ("a", 0, 2.0), ("a", 10, 8.0), ("a", 10, 4.0),  # dup ON boundary
            ("a", 15, 6.0), ("a", 15, 3.0),                  # dup off boundary
            ("a", 20, 1.0),
        ],
        "k string, ts bigint, value double",
    )
    res = {
        r["bucket_start"]: (r["twa"], r["n_obs"])
        for r in time_weighted_average(
            tw, by="k", bucket=10, order_cols="value"
        ).collect()
    }
    # order within dup ts: by value asc -> at t=10 the 8.0 row is last
    # (holds 10-15); at t=15 the 6.0 row is last (holds 15-20)
    # bucket 0: 2 held 0-10 (w10) -> 2.0, 1 obs
    # bucket 10: 8 held 10-15 (w5) + 6 held 15-20 (w5) -> 7.0, 2 obs
    assert res == {0: (2.0, 1), 10: (7.0, 2)}
