"""Two-dataset link_only / link_and_dedupe paths: source_dataset synthesis,
the two-dataset split optimisation, cross-dataset pair semantics, composite
ids in clustering."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on


def _set(comp, mus):
    for lv in comp.comparison_levels:
        if not lv.is_null_level:
            lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
    return comp


@pytest.fixture(scope="module")
def two_tables(spark):
    left = spark.createDataFrame(
        [
            (0, "alice", "1990-01-01"),
            (1, "bob", "1985-05-05"),
            (2, "carol", "1970-12-12"),
        ],
        ["unique_id", "name", "dob"],
    )
    right = spark.createDataFrame(
        [
            (0, "alice", "1990-01-01"),     # same uid as left 0 — must still pair
            (10, "bob", "1985-05-05"),
            (11, "dave", "2000-07-07"),
        ],
        ["unique_id", "name", "dob"],
    )
    return left, right


def _settings(link_type):
    return SettingsCreator(
        link_type=link_type,
        comparisons=[_set(cl.ExactMatch("name"), {1: (0.9, 0.01), 0: (0.1, 0.99)})],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.1,
    )


def test_link_only_cross_dataset_pairs(spark, two_tables):
    left, right = two_tables
    linker = Linker({"l_tbl": left, "r_tbl": right}, _settings("link_only"))
    rows = linker.inference.predict().collect()
    pairs = {(r["unique_id_l"], r["unique_id_r"]) for r in rows}
    # only cross-dataset pairs; (0_left, 0_right) must appear despite equal uid
    assert (0, 0) in pairs
    assert (1, 10) in pairs
    assert len(pairs) == 2
    # uid collisions across datasets must not fan out duplicate rows
    assert len(rows) == len(pairs)
    probs = {p: r["match_probability"] for p, r in
             zip(pairs, sorted(rows, key=lambda r: r["unique_id_l"]))}
    assert all(r["match_probability"] > 0.4 for r in rows)


def test_link_and_dedupe_includes_within(spark, two_tables):
    left, right = two_tables
    # add an intra-left duplicate
    left2 = left.unionByName(
        spark.createDataFrame([(5, "alice", "1990-01-01")], left.schema)
    )
    linker = Linker({"l_tbl": left2, "r_tbl": right}, _settings("link_and_dedupe"))
    pairs = {
        (r["unique_id_l"], r["unique_id_r"])
        for r in linker.inference.predict().collect()
    }
    # cross pair and within-left pair both present
    assert (0, 0) in pairs or (0, 5) in pairs
    within = {(0, 5)}
    assert within & pairs, "link_and_dedupe must generate within-dataset pairs"


def test_link_only_clustering_composite_ids(spark, two_tables):
    left, right = two_tables
    linker = Linker({"l_tbl": left, "r_tbl": right}, _settings("link_only"))
    pred = linker.inference.predict()
    clusters = linker.clustering.cluster_pairwise_predictions_at_threshold(pred, 0.4)
    rows = clusters.collect()
    assert len(rows) == 6
    by_key = {(r["source_dataset"], r["unique_id"]): r["cluster_id"] for r in rows}
    # alice left and alice right share a cluster despite both having uid 0
    assert by_key[("l_tbl", 0)] == by_key[("r_tbl", 0)]
    assert by_key[("l_tbl", 1)] == by_key[("r_tbl", 10)]
    assert by_key[("l_tbl", 2)] != by_key[("r_tbl", 11)]


def test_source_dataset_required(spark, two_tables):
    left, _ = two_tables
    with pytest.raises(ValueError, match="requires"):
        Linker(left, _settings("link_only"))


def test_full_example_train_predict_cluster_eval(spark, persons):
    """The reference's full-example shape: profile → estimate lambda → u →
    EM ×2 → predict → cluster → truth space (tests/test_full_example_*)."""
    settings = SettingsCreator(
        comparisons=[
            cl.LevenshteinAtThresholds("first_name", [2]),
            cl.ExactMatch("surname"),
            cl.ExactMatch("dob"),
            cl.ExactMatch("city", term_frequency_adjustments=True),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob"), block_on("surname")],
    )
    linker = Linker(persons, settings)
    linker.training.estimate_probability_two_random_records_match(
        [block_on("surname", "dob")], recall=0.8
    )
    linker.training.estimate_u_using_random_sampling(max_pairs=1e4, seed=1)
    linker.training.estimate_parameters_using_expectation_maximisation(
        block_on("dob"), fix_u_probabilities=True
    )
    linker.training.estimate_parameters_using_expectation_maximisation(
        block_on("surname"), fix_u_probabilities=True
    )
    assert settings.all_probabilities_set

    scored = linker.inference.predict()
    clusters = linker.clustering.cluster_pairwise_predictions_at_threshold(scored, 0.9)
    # entity 0 records 0,1 share dob+surname+city: must cluster together
    by_id = {r["unique_id"]: r["cluster_id"] for r in clusters.collect()}
    assert by_id[0] == by_id[1]
    # zoe li (11) is a singleton
    assert sum(1 for v in by_id.values() if v == by_id[11]) == 1

    ts = linker.evaluation.accuracy_analysis_from_labels_column(
        "cluster", scored, output_type="table"
    )
    rows = ts.collect()
    assert rows, "truth space must be non-empty"
    assert all(r["tp"] + r["fn"] >= 0 for r in rows)


def test_single_best_links_wrapper_uid_collision(spark, two_tables):
    """Linker-level single-best-links must use composite (dataset, uid) node
    ids: left and right both contain uid 0, which must remain two distinct
    graph nodes (review r3: bare uids conflated them)."""
    left, right = two_tables
    linker = Linker({"l_tbl": left, "r_tbl": right}, _settings("link_only"))
    pred = linker.inference.predict()
    out = linker.clustering.cluster_using_single_best_links(
        pred, threshold_match_probability=0.5
    ).collect()
    # every input record appears exactly once
    assert len(out) == 6
    ids = {(r["source_dataset"], r["node_id"]) for r in out}
    assert ("l_tbl", "l_tbl-__-0") in ids and ("r_tbl", "r_tbl-__-0") in ids
    # the two uid-0 records (same name+dob) cluster together, but as two rows
    bycl = {}
    for r in out:
        bycl.setdefault(r["cluster_id"], []).append(r["source_dataset"])
    merged = [v for v in bycl.values() if len(v) > 1]
    assert any(sorted(v) == ["l_tbl", "r_tbl"] for v in merged)


def test_link_only_u_sampling_counts_cross_dataset_only(spark, two_tables):
    """u-sampling must span the same pair space predict scores: for
    link_only, cross-dataset pairs only, keyed by (dataset, uid) so the
    colliding uid 0 in both tables does not fan out (review r3)."""
    left, right = two_tables
    linker = Linker({"l_tbl": left, "r_tbl": right}, _settings("link_only"))
    out = linker.training.estimate_u_using_random_sampling(max_pairs=1e6, seed=7)
    assert out  # u probabilities were set
    # 3 x 3 records -> exactly 9 cross-dataset pairs; 'name' agrees for
    # (alice,alice) and (bob,bob) only -> u[1] = 2/9 under full sampling
    comp = linker.settings.comparisons[0]
    u1 = {lv.comparison_vector_value: lv.u_probability
          for lv in comp.comparison_levels if not lv.is_null_level}[1]
    assert abs(u1 - 2 / 9) < 1e-9


def test_link_job_pairwise_labels_with_source_datasets(spark, two_tables):
    """m from pairwise labels keyed by (dataset, uid): the uid-0 collision
    must not explode one labelled pair into cross-dataset combinations."""
    left, right = two_tables
    linker = Linker({"l_tbl": left, "r_tbl": right}, _settings("link_only"))
    labels = spark.createDataFrame(
        [(0, "l_tbl", 0, "r_tbl", 1.0), (1, "l_tbl", 10, "r_tbl", 1.0)],
        ["unique_id_l", "source_dataset_l", "unique_id_r", "source_dataset_r",
         "clerical_match_score"],
    )
    out = linker.training.estimate_m_from_pairwise_labels(labels)
    comp = linker.settings.comparisons[0]
    m1 = {lv.comparison_vector_value: lv.m_probability
          for lv in comp.comparison_levels if not lv.is_null_level}[1]
    # both labelled pairs agree on name -> m[1] == 1.0 over exactly 2 pairs
    assert abs(m1 - 1.0) < 1e-9
    assert out


def test_multi_threshold_clustering_composite_ids(spark, two_tables):
    """Link job with colliding uids across datasets: multi-threshold
    clustering must key nodes by (dataset, uid), not bare uid."""
    left, right = two_tables
    linker = Linker({"l_tbl": left, "r_tbl": right}, _settings("link_only"))
    pred = linker.inference.predict()
    out = linker.clustering.cluster_pairwise_predictions_at_multiple_thresholds(
        pred, [0.4, 0.99]
    ).collect()
    by_t = {}
    for r in out:
        by_t.setdefault(r["threshold"], {})[r["node_id"]] = r["cluster_id"]
    low = by_t[0.4]
    # six distinct composite nodes (bare uids would merge l.0 and r.0)
    assert len(low) == 6
    assert low["l_tbl-__-0"] == low["r_tbl-__-0"]  # alice pair clusters
    assert low["l_tbl-__-1"] == low["r_tbl-__-10"]
    # at 0.99 nothing links; every node is its own cluster
    assert len(set(by_t[0.99].values())) == 6


def test_array_based_blocking_link_only_reference_case(spark):
    """reference tests/test_array_based_blocking.py:test_simple_example_link_only:
    an exploding rule given as a reference-format settings dict
    ({'blocking_rule': ..., 'arrays_to_explode': [...]}) in a link_only job;
    pair set AND match_key assignment must match the reference exactly."""
    from splink_spark import Linker, Settings

    data_l = spark.createDataFrame(
        [(1, "m", ["2612", "2000"]), (2, "m", ["2612", "2617"]), (3, "f", ["2617"])],
        "unique_id long, gender string, postcode array<string>",
    )
    data_r = spark.createDataFrame(
        [(4, "m", ["2617", "2600"]), (5, "f", ["2000"]),
         (6, "m", ["2617", "2612", "2000"])],
        "unique_id long, gender string, postcode array<string>",
    )
    settings = Settings.from_dict({
        "link_type": "link_only",
        "probability_two_random_records_match": 0.01,
        "blocking_rules_to_generate_predictions": [
            {
                "blocking_rule": "l.gender = r.gender and l.postcode = r.postcode",
                "arrays_to_explode": ["postcode"],
            },
            "l.gender = r.gender",
        ],
        "comparisons": [{
            "output_column_name": "postcode",
            "comparison_levels": [
                {"sql_condition": "postcode_l IS NULL OR postcode_r IS NULL",
                 "label_for_charts": "null", "is_null_level": True},
                {"sql_condition": "size(array_intersect(postcode_l, postcode_r)) >= 1",
                 "label_for_charts": "intersect>=1",
                 "m_probability": 0.9, "u_probability": 0.1},
                {"sql_condition": "ELSE", "label_for_charts": "else",
                 "m_probability": 0.1, "u_probability": 0.9},
            ],
        }],
    })
    preds = Linker({"left": data_l, "right": data_r}, settings).inference.predict()
    triples = {
        (r["unique_id_l"], r["unique_id_r"], r["match_key"])
        for r in preds.select("unique_id_l", "unique_id_r", "match_key").collect()
    }
    expected = {(1, 6, "0"), (2, 4, "0"), (2, 6, "0"), (1, 4, "1"), (3, 5, "1")}
    assert triples == expected


# -- pairs keyed by (source_dataset, uid) when two datasets reuse uids -------


@pytest.fixture(scope="module")
def reused_uids(spark):
    """Two datasets that both use uids 1-3."""
    cols = ["unique_id", "name", "city"]
    a = spark.createDataFrame([(1, "ann", "x"), (2, "ann", "y"), (3, "cat", "z")], cols)
    b = spark.createDataFrame([(1, "ann", "x"), (2, "bob", "y"), (3, "cat", "w")], cols)
    return a, b


def _reused_uid_linker(reused_uids, link_type="link_and_dedupe"):
    a, b = reused_uids
    settings = SettingsCreator(
        link_type=link_type,
        comparisons=[_set(cl.ExactMatch("name"), {1: (0.9, 0.1), 0: (0.1, 0.9)})],
        blocking_rules_to_generate_predictions=[block_on("city")],
        probability_two_random_records_match=0.5,
    )
    return Linker({"a": a, "b": b}, settings)


def _keys(rows):
    """Sorted ((source_dataset, uid), (source_dataset, uid)) per scored row;
    a pair scored twice appears twice."""
    return sorted(
        ((r["source_dataset_l"], r["unique_id_l"]), (r["source_dataset_r"], r["unique_id_r"]))
        for r in rows
    )


def _labels(spark, rows):
    return spark.createDataFrame(
        rows,
        ["source_dataset_l", "unique_id_l", "source_dataset_r", "unique_id_r",
         "clerical_match_score"],
    )


def _m_from_pairwise_labels(spark, linker, monkeypatch):
    seen = []
    gammas = linker.comparison_vectors

    def spy(**kwargs):
        seen.append(gammas(**kwargs))
        return seen[-1]

    monkeypatch.setattr(linker, "comparison_vectors", spy)
    linker.training.estimate_m_from_pairwise_labels(
        _labels(spark, [("b", 1, "a", 1, 1.0), ("a", 2, "b", 2, 1.0), ("b", 2, "a", 2, 1.0)])
    )
    return _keys(seen[0].collect())


def _labels_truth_space(spark, linker, monkeypatch):
    ts = linker.evaluation.accuracy_analysis_from_labels_table(
        _labels(spark, [("a", 1, "a", 2, 1.0), ("b", 2, "b", 1, 0.0)]),
        output_type="table",
    ).orderBy("truth_threshold").collect()
    return [(r["tp"], r["fp"], r["fn"], r["tn"]) for r in ts]


def _labels_prediction_errors(spark, linker, monkeypatch):
    # ann/ann labelled a non-match (a false positive), ann/bob a match (a
    # false negative): both pairs are errors
    return _keys(linker.evaluation.prediction_errors_from_labels_table(
        _labels(spark, [("a", 2, "a", 1, 0.0), ("b", 1, "b", 2, 1.0)])
    ).collect())


def _unlinkables(spark, linker, monkeypatch):
    return [(r["match_weight"], r["count"]) for r in linker.evaluation.unlinkables_table().collect()]


def _missing_cluster_edges(spark, linker, monkeypatch):
    clusters = spark.createDataFrame(
        [(0, "a", 1), (0, "b", 1), (0, "a", 2), (1, "b", 2), (1, "b", 3), (1, "a", 3)],
        ["cluster_id", "source_dataset", "unique_id"],
    )
    return _keys(linker.inference.score_missing_cluster_edges(
        clusters, linker.inference.predict()
    ).collect())


def _labelling_tool(spark, linker, monkeypatch):
    return _keys(linker.evaluation.labelling_tool_for_specific_record(
        1, source_dataset="b", match_weight_threshold=-100
    ).collect())


def _compare_two_records(spark, linker, monkeypatch):
    return _keys(linker.inference.compare_two_records(
        {"source_dataset": "a", "unique_id": 1, "name": "ann", "city": "x"},
        {"source_dataset": "b", "unique_id": 1, "name": "bob", "city": "x"},
    ).collect())


_AGREE = round(math.log2(9), 2)  # prior 0.5, name agrees: m/u = 0.9/0.1


_PRODUCERS = [
    (_m_from_pairwise_labels, [(("a", 1), ("b", 1)), (("a", 2), ("b", 2))]),
    # at the ann/bob weight both pairs predict a match (tp 1, fp 1); at the
    # ann/ann weight only the labelled match does (tp 1, tn 1)
    (_labels_truth_space, [(1, 1, 0, 0), (1, 0, 0, 1)]),
    (_labels_prediction_errors, [(("a", 1), ("a", 2)), (("b", 1), ("b", 2))]),
    (_unlinkables, [(_AGREE, 6)]),
    (
        _missing_cluster_edges,
        [(("a", 1), ("a", 2)), (("a", 2), ("b", 1)), (("a", 3), ("b", 2)),
         (("a", 3), ("b", 3)), (("b", 2), ("b", 3))],
    ),
    (
        _labelling_tool,
        [(("a", u), ("b", 1)) for u in (1, 2, 3)] + [(("b", u), ("b", 1)) for u in (1, 2, 3)],
    ),
    (_compare_two_records, [(("a", 1), ("b", 1))]),
]


@pytest.mark.parametrize(
    "producer, expected", _PRODUCERS, ids=[p.__name__[1:] for p, _ in _PRODUCERS]
)
def test_pair_producers_score_each_intended_pair_once(
    spark, reused_uids, monkeypatch, producer, expected
):
    """Every producer of caller-built pairs keys them by (source_dataset,
    uid): the reused uids neither fan a pair out into its namesakes nor
    merge two pairs into one."""
    linker = _reused_uid_linker(reused_uids)
    assert producer(spark, linker, monkeypatch) == expected


def test_link_only_missing_cluster_edges_pair_equal_uids(spark, reused_uids):
    """link_only clusters that pair each uid with its namesake in the other
    dataset: the three cross-dataset edges are missing from an empty
    prediction and are scored."""
    linker = _reused_uid_linker(reused_uids, "link_only")
    clusters = spark.createDataFrame(
        [(u, sd, u) for u in (1, 2, 3) for sd in ("a", "b")],
        ["cluster_id", "source_dataset", "unique_id"],
    )
    rows = linker.inference.score_missing_cluster_edges(
        clusters, linker.inference.predict().limit(0)
    ).collect()
    assert _keys(rows) == [(("a", u), ("b", u)) for u in (1, 2, 3)]


def test_labels_table_pairs_within_each_dataset_both_score(spark, reused_uids):
    """Labels (a:1, a:2) and (b:1, b:2) share their uids but are two pairs:
    both are scored, the match as a true positive and the non-match as a
    true negative."""
    linker = _reused_uid_linker(reused_uids)
    labels = _labels(spark, [("a", 1, "a", 2, 1.0), ("b", 1, "b", 2, 0.0)])
    ts = linker.evaluation.accuracy_analysis_from_labels_table(
        labels, output_type="table"
    ).orderBy("truth_threshold").collect()
    # thresholds: the ann/bob weight, then the ann/ann weight
    assert [(r["tp"], r["fp"], r["fn"], r["tn"]) for r in ts] == [(1, 1, 0, 0), (1, 0, 0, 1)]
