"""Property-based tests (hypothesis) for the pure-python kernels — no Spark
session needed, so these run in milliseconds and cover the long tail of
inputs the example-based tests cannot."""

from __future__ import annotations

import networkx as nx
from hypothesis import given, settings
from hypothesis import strategies as st

from splink_spark.internals.column_expression import suffix_sql_identifiers
from splink_spark.internals.connected_components import _find_bridges


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    )
)
def test_bridges_match_networkx(edges):
    g = nx.MultiGraph()
    for u, v in edges:
        g.add_edge(u, v)
    expected = set()
    for u, v in nx.bridges(nx.Graph(g)):
        # a simple-graph bridge is a multigraph bridge only when the edge
        # is not duplicated
        if g.number_of_edges(u, v) == 1:
            expected.add(frozenset((u, v)))
    got_idx = _find_bridges(edges)
    got = {frozenset(edges[i]) for i in got_idx}
    assert got == expected


_ident = st.from_regex(r"[a-z_][a-z0-9_]{0,6}", fullmatch=True)


@settings(max_examples=200, deadline=None)
@given(st.lists(_ident, min_size=1, max_size=4), st.sampled_from(["_l", "_r"]))
def test_rewriter_suffixes_every_bare_identifier(cols, suffix):
    from splink_spark.internals.column_expression import _SQL_KEYWORDS

    cols = [c for c in cols if c.upper() not in _SQL_KEYWORDS] or ["col_a"]
    sql = " + ".join(cols)
    out = suffix_sql_identifiers(sql, suffix)
    assert out == " + ".join(f"{c}{suffix}" for c in cols)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=30))
def test_rewriter_leaves_string_literals_alone(s):
    lit = "'" + s.replace("'", "''") + "'"
    sql = f"name = {lit}"
    out = suffix_sql_identifiers(sql, "_l")
    assert out == f"name_l = {lit}"


@settings(max_examples=100, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.sampled_from([1, 3]),
    st.integers(0, 2**32 - 1),
)
def test_pnm_encode_decode_round_trip(w, h, ch, seed):
    import numpy as np

    from splink_spark.pipeline.multimodal import decode_pnm, encode_pnm

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    back = decode_pnm(encode_pnm(arr))
    assert back is not None and back.shape == arr.shape
    assert (back == arr).all()


def test_jaro_floors_odd_transposition_count():
    """Pinned to DuckDB: an odd matched-but-out-of-order count floors
    (t = raw // 2). Caught by the fuzzy_kernels oracle gate — the exact
    case: 17 matches, 3 out-of-order -> t=1, not 1.5."""
    import pytest

    from splink_spark.internals.functions import _jaro

    s1, s2 = "Customer#000000919", "Customer#000001019"
    expected = (17 / 18 + 17 / 18 + (17 - 1) / 17) / 3
    assert _jaro(s1, s2) == pytest.approx(expected, abs=1e-12)
    try:
        import duckdb

        d = duckdb.sql(
            "select jaro_similarity('Customer#000000919', 'Customer#000001019')"
        ).fetchone()[0]
        assert _jaro(s1, s2) == pytest.approx(d, abs=1e-12)
    except ImportError:
        pass


_prob = st.floats(1e-6, 1.0, allow_nan=False, allow_infinity=False)
_level_spec = st.tuples(
    st.sampled_from(["null", "exact", "fuzzy"]),
    _prob,  # m
    _prob,  # u
    st.booleans(),  # term-frequency adjusted (exact and fuzzy levels)
    st.booleans(),  # fixed m and u
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_level_spec, min_size=1, max_size=6), st.booleans())
def test_score_bound_arms_cover_every_reachable_level(specs, with_else):
    """Each arm of a comparison's weight bound is >= the log2 bayes factor
    of every level a pair taking that arm can land on, enumerated over every
    true/false outcome of the level conditions, and +inf wherever the
    landing level is term-frequency adjusted. Gamma assignment is modelled
    from the ladder: the first true non-ELSE condition in declaration
    order, else gamma 0 (the last non-null level)."""
    import itertools
    import math

    from splink_spark.internals.comparison import Comparison, score_bound_arms
    from splink_spark.internals.comparison_level import ComparisonLevel

    levels = [
        ComparisonLevel(
            lambda: None,
            f"level {i}",
            is_null_level=kind == "null",
            is_exact_match_level=kind == "exact",
            m_probability=m,
            u_probability=u,
            tf_adjustment_column="c" if tf and kind != "null" else None,
            fix_m_probability=fixed,
            fix_u_probability=fixed,
        )
        for i, (kind, m, u, tf, fixed) in enumerate(specs)
    ]
    if with_else:
        levels.append(ComparisonLevel(lambda: None, "else", is_else_level=True,
                                      m_probability=0.1, u_probability=0.9))
    if all(lv.is_null_level for lv in levels):
        return
    comp = Comparison("c", levels)
    leading, else_max = score_bound_arms(levels)
    arm_of = dict(leading)
    # only the cheap conditions are evaluated: a leading run of null and
    # exact-match levels
    assert list(arm_of) == list(range(len(leading)))
    assert all(levels[i].is_null_level or levels[i].is_exact_match_level for i in arm_of)

    for truth in itertools.product([False, True], repeat=len(levels)):
        truth = [t or lv.is_else_level for t, lv in zip(truth, levels)]
        # the gamma ladder: first true non-ELSE condition, else gamma 0
        hit = next((lv for t, lv in zip(truth, levels) if t and not lv.is_else_level), None)
        landed = hit if hit is not None else comp.level_for_gamma(0)
        # the bound ladder: first true leading condition, else the ELSE arm
        first = next((i for i, t in enumerate(truth) if t and i in arm_of), None)
        bound = arm_of[first] if first is not None else else_max
        if landed.has_tf_adjustment:
            assert bound == math.inf
        else:
            weight = 0.0 if landed.is_null_level else landed.log2_bayes_factor
            assert bound >= weight


@settings(max_examples=500, deadline=None)
@given(
    st.floats(-1100.0, 1100.0, allow_nan=False),
    st.one_of(
        st.floats(0.0, 1.0, allow_nan=False),
        st.integers(1, 60).map(lambda k: 1.0 - 2.0**-k),
        st.integers(1, 1074).map(lambda k: 2.0**-k),
    ),
)
def test_threshold_weight_floor_admits_every_passing_weight(mw, p):
    """A weight whose sigmoid (computed as the scorer computes it) passes a
    probability threshold is never below that threshold's weight floor, so
    the bound cannot drop a pair the threshold keeps — also next to p = 0
    and p = 1, where the logit is steepest."""
    from splink_spark.internals.predict import threshold_weight_floor

    floor = threshold_weight_floor(threshold_match_probability=p)
    if floor is None:
        assert p <= 0.0 or p >= 1.0
        return
    prob = 1.0 / (1.0 + 2.0**-mw) if mw >= 0 else 2.0**mw / (1.0 + 2.0**mw)
    if prob >= p:
        assert mw >= floor
    assert threshold_weight_floor(threshold_match_weight=mw) <= mw
