"""Literal-expectation ports of small reference tests: u/m training on tiny
fixtures with exact fractional expectations, prior estimation across link
types, and cartesian-count guards.

Sources (expectations transcribed, not code):
  reference tests/test_u_train.py, test_m_train.py,
  test_estimate_prob_two_rr_match.py, test_total_comparison_count.py
"""

from __future__ import annotations

import pytest

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, block_on
from splink_spark.internals.misc import calculate_cartesian


def _level_u(comp, value):
    for lv in comp.comparison_levels:
        if not lv.is_null_level and lv.comparison_vector_value == value:
            return lv.u_probability
    raise AssertionError(f"no level {value}")


def _level_m(comp, value):
    for lv in comp.comparison_levels:
        if not lv.is_null_level and lv.comparison_vector_value == value:
            return lv.m_probability
    raise AssertionError(f"no level {value}")


def test_u_train_dedupe_literal(spark):
    """reference test_u_train.py::test_u_train — with max_pairs >= the full
    cartesian the u estimate is exact: 1 exact pair (Amanda/Amanda), 1
    lev<=2 pair (Robin/Robyn), 13 disagreeing, denominator 15."""
    data = [
        (1, "Amanda"), (2, "Robin"), (3, "Robyn"),
        (4, "David"), (5, "Eve"), (6, "Amanda"),
    ]
    df = spark.createDataFrame(data, ["unique_id", "name"])
    settings = {
        "link_type": "dedupe_only",
        "comparisons": [cl.LevenshteinAtThresholds("name", 2).as_dict()],
        "blocking_rules_to_generate_predictions": ["l.name = r.name"],
    }
    linker = Linker(df, settings)
    linker.training.estimate_u_using_random_sampling(max_pairs=1e6)
    comp = linker.settings.comparisons[0]
    denom = 6 * 5 / 2
    assert _level_u(comp, 2) == pytest.approx(1 / denom)
    assert _level_u(comp, 1) == pytest.approx(1 / denom)
    assert _level_u(comp, 0) == pytest.approx((denom - 2) / denom)


def test_u_train_link_only_literal(spark):
    """reference test_u_train.py::test_u_train_link_only — link_only u
    counts only cross-dataset pairs: denominator 6*7, 2 exact cross pairs
    (David, Stuart), 1 lev<=2 pair (Eve/Eva)."""
    data_l = [(1, "Amanda"), (2, "Robin"), (3, "Robyn"), (4, "David"),
              (5, "Eve"), (6, "Amanda"), (7, "Stuart")]
    data_r = [(1, "Eva"), (2, "David"), (3, "Sophie"), (4, "Jimmy"),
              (5, "Stuart"), (6, "Jimmy")]
    df_l = spark.createDataFrame(data_l, ["unique_id", "name"])
    df_r = spark.createDataFrame(data_r, ["unique_id", "name"])
    settings = {
        "link_type": "link_only",
        "comparisons": [cl.LevenshteinAtThresholds("name", 2).as_dict()],
        "blocking_rules_to_generate_predictions": [],
        "source_dataset_column_name": "source_dataset",
    }
    linker = Linker({"l": df_l, "r": df_r}, settings)
    linker.training.estimate_u_using_random_sampling(max_pairs=1e6)
    comp = linker.settings.comparisons[0]
    denom = 6 * 7
    assert _level_u(comp, 2) == pytest.approx(2 / denom)
    assert _level_u(comp, 1) == pytest.approx(1 / denom)
    assert _level_u(comp, 0) == pytest.approx((denom - 3) / denom)


def test_m_train_label_column_and_pairwise_literal(spark):
    """reference test_m_train.py — m from a ground-truth label column and
    from an equivalent pairwise-labels table agree exactly: within-cluster
    pairs are (Robin,Robyn) lev, (Robin,Robin) exact, (Robyn,Robin) lev,
    (James,David) else -> m = [1/4, 2/4, 1/4]."""
    data = [
        (1, "Robin", 1), (2, "Robyn", 1), (3, "Robin", 1),
        (4, "James", 2), (5, "David", 2),
    ]
    df = spark.createDataFrame(data, ["unique_id", "name", "cluster"])
    settings = {
        "link_type": "dedupe_only",
        "comparisons": [cl.LevenshteinAtThresholds("name", 2).as_dict()],
        "blocking_rules_to_generate_predictions": ["l.name = r.name"],
    }
    linker = Linker(df, settings)
    linker.training.estimate_m_from_label_column("cluster")
    comp = linker.settings.comparisons[0]
    assert _level_m(comp, 2) == pytest.approx(1 / 4)
    assert _level_m(comp, 1) == pytest.approx(2 / 4)
    assert _level_m(comp, 0) == pytest.approx(1 / 4)

    labels = spark.createDataFrame(
        [
            (l_id, r_id, 1.0)
            for (l_id, _, cl_l) in data
            for (r_id, _, cl_r) in data
            if cl_l == cl_r and l_id < r_id
        ],
        "unique_id_l bigint, unique_id_r bigint, clerical_match_score double",
    )
    linker2 = Linker(df, settings)
    linker2.training.estimate_m_from_pairwise_labels(labels)
    comp2 = linker2.settings.comparisons[0]
    assert _level_m(comp2, 2) == pytest.approx(1 / 4)
    assert _level_m(comp2, 1) == pytest.approx(2 / 4)
    assert _level_m(comp2, 0) == pytest.approx(1 / 4)


# ---------------------------------------------------------------------------
# estimate_probability_two_random_records_match across link types
# ---------------------------------------------------------------------------

_PROB_RR_DATA = [
    (1, "John", "Smith"), (2, "John", "Smith"), (3, "Mary", "Jones"),
    (4, "Mary", "Jones"), (5, "Mary", "Jones"), (6, "Jane", "Taylor"),
]


def test_prob_rr_match_dedupe_literal(spark):
    """reference test_estimate_prob_two_rr_match.py::test_prob_rr_match_dedupe:
    4 deterministic matches / 15 comparisons; recall scales it up."""
    df = spark.createDataFrame(_PROB_RR_DATA, ["unique_id", "first_name", "surname"])
    settings = {
        "link_type": "dedupe_only",
        "blocking_rules_to_generate_predictions": [
            "l.first_name = r.first_name",
            "l.surname = r.surname",
        ],
        "comparisons": [],
    }
    linker = Linker(df, settings)
    linker.training.estimate_probability_two_random_records_match(
        ["l.first_name = r.first_name", "l.surname = r.surname"], recall=1.0
    )
    assert linker.settings.probability_two_random_records_match == pytest.approx(4 / 15)

    linker.training.estimate_probability_two_random_records_match(
        ["l.first_name = r.first_name and l.surname = r.surname"], recall=0.9
    )
    assert linker.settings.probability_two_random_records_match == pytest.approx(
        4 / 15 * (1 / 0.9)
    )


def test_prob_rr_match_link_only_literal(spark):
    """reference ::test_prob_rr_match_link_only — 2 matches / 8 cross-dataset
    comparisons."""
    data_1 = [(1, "John", "Smith"), (2, "Mary", "Jones")]
    data_2 = [(1, "John", "Smyth"), (2, "Mary", "Jones"),
              (3, "Jane", "Taylor"), (4, "Alice", "Williams")]
    cols = ["unique_id", "first_name", "surname"]
    settings = {
        "link_type": "link_only",
        "blocking_rules_to_generate_predictions": [
            "l.first_name = r.first_name",
            "l.surname = r.surname",
        ],
        "comparisons": [],
        "source_dataset_column_name": "source_dataset",
    }
    linker = Linker(
        {"a": spark.createDataFrame(data_1, cols), "b": spark.createDataFrame(data_2, cols)},
        settings,
    )
    linker.training.estimate_probability_two_random_records_match(
        ["l.first_name = r.first_name", "l.surname = r.surname"], recall=1.0
    )
    assert linker.settings.probability_two_random_records_match == pytest.approx(2 / 8)


def test_prob_rr_match_link_and_dedupe_literal(spark):
    """reference ::test_prob_rr_match_link_and_dedupe — 3 matches / 15
    comparisons over the union."""
    data_1 = [(1, "John", "Smith"), (2, "Mary", "Jones"), (3, "Jane", "Tailor")]
    data_2 = [(1, "John", "Smyth"), (2, "Mary", "Jones"), (3, "Jane", "Taylor")]
    cols = ["unique_id", "first_name", "surname"]
    settings = {
        "link_type": "link_and_dedupe",
        "blocking_rules_to_generate_predictions": ["1=1"],
        "comparisons": [],
        "source_dataset_column_name": "source_dataset",
    }
    linker = Linker(
        {"a": spark.createDataFrame(data_1, cols), "b": spark.createDataFrame(data_2, cols)},
        settings,
    )
    linker.training.estimate_probability_two_random_records_match(
        ["l.first_name = r.first_name", "l.surname = r.surname"], recall=1.0
    )
    assert linker.settings.probability_two_random_records_match == pytest.approx(3 / 15)


def test_prob_rr_match_sampled_close_to_exact_and_warns(spark, persons):
    """reference ::test_prob_rr_match_sampled_probe_is_similar_to_exact —
    record_sample_proportion < 1 estimates the deterministic-match count from
    a hash sample (scaled by 1/p^2) and warns when the sampled pair count is
    below 1,000."""
    settings = {
        "link_type": "dedupe_only",
        "blocking_rules_to_generate_predictions": ["l.dob = r.dob"],
        "comparisons": [],
    }
    exact_linker = Linker(persons, settings)
    exact_linker.training.estimate_probability_two_random_records_match(
        [block_on("dob")], recall=1.0, record_sample_proportion=1.0
    )
    exact = exact_linker.settings.probability_two_random_records_match

    sampled_linker = Linker(persons, settings)
    with pytest.warns(UserWarning, match="below the recommended minimum of 1,000"):
        sampled_linker.training.estimate_probability_two_random_records_match(
            [block_on("dob")], recall=1.0, record_sample_proportion=0.5
        )
    sampled = sampled_linker.settings.probability_two_random_records_match
    # 12-row fixture: the scaled estimate is noisy but must stay same order
    assert sampled == pytest.approx(exact, rel=3.0)
    assert exact > 0


# ---------------------------------------------------------------------------
# calculate_cartesian literals (reference test_total_comparison_count.py)
# ---------------------------------------------------------------------------


def test_calculate_cartesian_dedupe_only():
    assert calculate_cartesian([5], "dedupe_only") == 10
    assert calculate_cartesian([8], "dedupe_only") == 28
    assert calculate_cartesian([10], "dedupe_only") == 45
    with pytest.raises(ValueError):
        calculate_cartesian([10, 20], "dedupe_only")


def test_calculate_cartesian_link_only():
    assert calculate_cartesian([2, 3], "link_only") == 6
    assert calculate_cartesian([7, 11], "link_only") == 77
    assert calculate_cartesian([2, 2, 2], "link_only") == 12
    assert calculate_cartesian([2, 3, 5], "link_only") == 31
    assert calculate_cartesian([1, 1, 1], "link_only") == 3
    assert calculate_cartesian([2, 2, 2, 2, 2], "link_only") == 40
    assert calculate_cartesian([5, 5, 5, 5], "link_only") == 150
    with pytest.raises(ValueError):
        calculate_cartesian([12], "link_only")


def test_calculate_cartesian_link_and_dedupe():
    assert calculate_cartesian([8], "link_and_dedupe") == 28
    assert calculate_cartesian([2, 3], "link_and_dedupe") == 10
    assert calculate_cartesian([7, 11], "link_and_dedupe") == 77 + 21 + 55
    assert calculate_cartesian([2, 2, 2], "link_and_dedupe") == 15
    assert calculate_cartesian([1, 1, 1], "link_and_dedupe") == 3
    assert calculate_cartesian([2, 2, 2, 2, 2], "link_and_dedupe") == 45
    assert calculate_cartesian([5, 5, 5, 5], "link_and_dedupe") == 190


# ---------------------------------------------------------------------------
# TF adjustment literals (reference test_term_frequencies.py)
# ---------------------------------------------------------------------------

_CITY_COUNTS = {"London": 40, "Birmingham": 8, "Truro": 2}


def _tf_city_linker(spark, **level_extras):
    data = []
    i = 0
    for city, count in _CITY_COUNTS.items():
        for _ in range(count):
            data.append((i, city))
            i += 1
    df = spark.createDataFrame(data, ["unique_id", "city"])
    exact = {
        "sql_condition": "city_l = city_r",
        "label_for_charts": "Exact match",
        "tf_adjustment_column": "city",
        "m_probability": 1.0,
        "u_probability": 0.2,
        **level_extras,
    }
    settings = {
        "link_type": "dedupe_only",
        "comparisons": [{
            "output_column_name": "city",
            "comparison_levels": [
                {"sql_condition": "city_l IS NULL OR city_r IS NULL",
                 "is_null_level": True},
                exact,
                {"sql_condition": "ELSE", "m_probability": 0.01,
                 "u_probability": 0.8},
            ],
        }],
        "blocking_rules_to_generate_predictions": ["l.city = r.city"],
        "retain_matching_columns": True,
        "retain_intermediate_calculation_columns": True,
    }
    return Linker(df, settings)


def _city_bfs(linker):
    import pyspark.sql.functions as F

    rows = (
        linker.inference.predict()
        .groupBy("city_l")
        .agg(
            F.first("bf_gamma_city").alias("bf"),
            F.first("bf_tf_adj_gamma_city").alias("bf_adj"),
        )
        .collect()
    )
    return {r["city_l"]: (r["bf"], r["bf_adj"]) for r in rows}


def test_tf_basic_literal(spark):
    """adjusted BF = total/count per term: London 50/40, B'ham 50/8, Truro 50/2."""
    res = _city_bfs(_tf_city_linker(spark))
    for city, expect in [("London", 50 / 40), ("Birmingham", 50 / 8), ("Truro", 50 / 2)]:
        bf, bf_adj = res[city]
        assert bf == pytest.approx(5.0)
        assert bf * bf_adj == pytest.approx(expect), city


def test_tf_clamp_literal(spark):
    """tf_minimum_u_value=0.1 floors the term frequency: Truro (tf=0.04)
    clamps to 10 instead of 25; the common terms are unaffected."""
    res = _city_bfs(_tf_city_linker(spark, tf_minimum_u_value=0.1))
    assert res["London"][0] * res["London"][1] == pytest.approx(50 / 40)
    assert res["Birmingham"][0] * res["Birmingham"][1] == pytest.approx(50 / 8)
    assert res["Truro"][0] * res["Truro"][1] == pytest.approx(10.0)


def test_tf_weight_literal(spark):
    """tf_adjustment_weight=0.5 takes the square root of the full adjustment."""
    res = _city_bfs(_tf_city_linker(spark, tf_adjustment_weight=0.5))
    assert res["London"][0] * res["London"][1] == pytest.approx(5.0 * 0.25**0.5)
    assert res["Birmingham"][0] * res["Birmingham"][1] == pytest.approx(5.0 * 1.25**0.5)
    assert res["Truro"][0] * res["Truro"][1] == pytest.approx(5.0 * 5**0.5)


def test_tf_weight_and_clamp_literal(spark):
    """weight and clamp compose: Truro adjustment is sqrt(0.2/0.1)=sqrt(2)."""
    res = _city_bfs(_tf_city_linker(spark, tf_adjustment_weight=0.5,
                                    tf_minimum_u_value=0.1))
    assert res["Truro"][0] * res["Truro"][1] == pytest.approx(5.0 * 2**0.5)
    assert res["London"][0] * res["London"][1] == pytest.approx(5.0 * 0.25**0.5)


@pytest.mark.parametrize(
    "level_extras",
    [{}, {"tf_minimum_u_value": 0.1}, {"tf_adjustment_weight": 0.5, "tf_minimum_u_value": 0.1}],
    ids=["basic", "clamp", "weight_and_clamp"],
)
def test_tf_chart_weight_equals_predict_weight(spark, level_extras):
    """The TF chart's per-value weight is the weight predict gives two
    records sharing the value: log2_bf_final == log2(bf * bf_tf_adj), with
    the tf_minimum_u_value floor applied."""
    import math

    linker = _tf_city_linker(spark, **level_extras)
    chart = {
        r["value"]: r["log2_bf_final"]
        for r in linker.visualisations.tf_adjustment_chart_data("city", None, None).collect()
    }
    res = _city_bfs(linker)
    assert set(chart) == set(res)
    for city, (bf, bf_adj) in res.items():
        assert chart[city] == pytest.approx(math.log2(bf * bf_adj), abs=1e-12), city


# ---------------------------------------------------------------------------
# prediction-error literals (reference test_accuracy.py)
# ---------------------------------------------------------------------------

_PRED_ERR_DATA = [
    (1, "robin", 1), (2, "robin", 1), (3, "john", 1),
    (4, "david", 2), (5, "david", 3),
]

_PRED_ERR_SETTINGS = {
    "link_type": "dedupe_only",
    "probability_two_random_records_match": 0.5,
    "comparisons": [{
        "output_column_name": "first_name",
        "comparison_levels": [
            {"sql_condition": '"first_name_l" IS NULL OR "first_name_r" IS NULL',
             "is_null_level": True},
            {"sql_condition": '"first_name_l" = "first_name_r"',
             "m_probability": 0.95, "u_probability": 1e-5},
            {"sql_condition": "ELSE",
             "m_probability": 0.05, "u_probability": 1 - 1e-5},
        ],
    }],
    "blocking_rules_to_generate_predictions": ["1=1"],
}


def _id_pairs(df):
    return {(r["unique_id_l"], r["unique_id_r"]) for r in df.collect()}


def test_prediction_errors_from_labels_table_literal(spark):
    """reference test_accuracy.py::test_prediction_errors_from_labels_table —
    FNs (1,3),(2,3); FP (4,5); TP (1,2) excluded; the include_* toggles
    filter each side. Label (0,1) references a non-existent record and must
    not surface."""
    df = spark.createDataFrame(_PRED_ERR_DATA, ["unique_id", "first_name", "cluster"])
    labels = spark.createDataFrame(
        [(0, 1, 0.8), (1, 3, 0.8), (2, 3, 0.8), (4, 5, 0.1)],
        "unique_id_l bigint, unique_id_r bigint, clerical_match_score double",
    )
    linker = Linker(df, dict(_PRED_ERR_SETTINGS))
    res = _id_pairs(linker.evaluation.prediction_errors_from_labels_table(labels))
    assert {(1, 3), (2, 3), (4, 5)} <= res
    assert (1, 2) not in res and (0, 1) not in res

    res = _id_pairs(linker.evaluation.prediction_errors_from_labels_table(
        labels, include_false_negatives=False))
    assert (4, 5) in res and (1, 3) not in res and (2, 3) not in res

    res = _id_pairs(linker.evaluation.prediction_errors_from_labels_table(
        labels, include_false_positives=False))
    assert {(1, 3), (2, 3)} <= res and (4, 5) not in res


def test_prediction_errors_from_labels_column_literal(spark):
    """reference test_accuracy.py::test_prediction_errors_from_labels_column —
    same errors derived from a ground-truth cluster column under 1=1
    blocking; TNs like (1,5) never surface."""
    df = spark.createDataFrame(_PRED_ERR_DATA, ["unique_id", "first_name", "cluster"])
    linker = Linker(df, dict(_PRED_ERR_SETTINGS))

    res = _id_pairs(linker.evaluation.prediction_errors_from_labels_column("cluster"))
    assert {(1, 3), (2, 3), (4, 5)} <= res
    assert (1, 2) not in res and (1, 5) not in res

    res = _id_pairs(linker.evaluation.prediction_errors_from_labels_column(
        "cluster", include_false_positives=False))
    assert {(1, 3), (2, 3)} <= res and (4, 5) not in res

    res = _id_pairs(linker.evaluation.prediction_errors_from_labels_column(
        "cluster", include_false_negatives=False))
    assert (4, 5) in res and (1, 3) not in res and (2, 3) not in res


# ---------------------------------------------------------------------------
# chunked predict across link types (reference test_chunking.py:
# test_chunked_predict_link_only_three_datasets / _link_and_dedupe)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("link_type", ["link_only", "link_and_dedupe"])
def test_chunked_predict_multi_dataset_equals_unchunked(spark, persons, link_type):
    """Chunking partitions the pair space by endpoint uid-hash; with multiple
    source datasets the (source, uid) pair orientation must survive the
    split — the union of all chunks equals the unchunked output exactly."""
    frames = {
        "a": persons.where("unique_id % 3 = 0"),
        "b": persons.where("unique_id % 3 = 1"),
        "c": persons.where("unique_id % 3 = 2"),
    }
    settings = {
        "link_type": link_type,
        "probability_two_random_records_match": 0.01,
        "blocking_rules_to_generate_predictions": ["l.dob = r.dob"],
        "comparisons": [{
            "output_column_name": "surname",
            "comparison_levels": [
                {"sql_condition": "surname_l IS NULL OR surname_r IS NULL",
                 "is_null_level": True},
                {"sql_condition": "surname_l = surname_r",
                 "m_probability": 0.9, "u_probability": 0.01},
                {"sql_condition": "ELSE", "m_probability": 0.1,
                 "u_probability": 0.99},
            ],
        }],
    }

    def rows(df):
        return sorted(
            (r["source_dataset_l"], r["unique_id_l"], r["source_dataset_r"],
             r["unique_id_r"], round(r["match_weight"], 9))
            for r in df.select("source_dataset_l", "unique_id_l",
                               "source_dataset_r", "unique_id_r",
                               "match_weight").collect()
        )

    unchunked = rows(Linker(frames, dict(settings)).inference.predict())
    chunked = rows(
        Linker(frames, dict(settings)).inference.predict(num_chunks_l=2, num_chunks_r=3)
    )
    assert len(unchunked) > 0
    assert chunked == unchunked


# ---------------------------------------------------------------------------
# blocking-analysis count literals (reference test_analyse_blocking.py)
# ---------------------------------------------------------------------------


def test_count_comparisons_literals_across_link_types(spark):
    """reference test_analyse_blocking.py::test_analyse_blocking_slow_methodology
    — exact marginal counts for 1=1 and equality rules across dedupe_only /
    link_only (2 and 3 frames) / link_and_dedupe."""
    from splink_spark.blocking_analysis import count_comparisons_from_blocking_rules

    cols = ["unique_id", "first_name", "surname"]
    df_1 = spark.createDataFrame(
        [(1, "John", "Smith"), (2, "Mary", "Jones"),
         (3, "Jane", "Taylor"), (4, "John", "Brown")], cols)
    df_2 = spark.createDataFrame(
        [(1, "John", "Smyth"), (2, "Mary", "Jones"), (3, "Jayne", "Tailor")], cols)
    df_3 = spark.createDataFrame(
        [(1, "John", "Smith"), (2, "Mary", "Jones")], cols)

    def count(dfs, rules, link_type):
        return count_comparisons_from_blocking_rules(
            dfs, blocking_rules=rules, link_type=link_type,
            unique_id_column_name="unique_id", record_sample_proportion=1.0,
        )[0]["marginal_comparison_count"]

    assert count(df_1, "1=1", "dedupe_only") == 4 * 3 / 2
    assert count(df_1, block_on("first_name"), "dedupe_only") == 1

    assert count([df_1, df_2], "1=1", "link_only") == 4 * 3
    assert count([df_1, df_2], block_on("surname"), "link_only") == 1
    assert count([df_1, df_2], block_on("first_name"), "link_only") == 3
    assert count([df_1, df_2, df_3], "1=1", "link_only") == 4 * 3 + 4 * 2 + 2 * 3

    assert (
        count([df_1, df_2], "1=1", "link_and_dedupe")
        == 4 * 3 + (4 * 3 / 2) + (3 * 2 / 2)
    )
    assert count(
        [df_1, df_2],
        "l.first_name = r.first_name and l.surname = r.surname",
        "link_and_dedupe",
    ) == 1
    assert count(
        [df_1, df_2], block_on("first_name", "surname"), "link_and_dedupe"
    ) == 1


def test_count_comparisons_exploding_literals(spark):
    """reference ::test_blocking_analysis_slow_methodology_exploding — array
    blocking keys count DISTINCT pairs after the explode-join."""
    from splink_spark.blocking_analysis import count_comparisons_from_blocking_rules

    schema = "unique_id bigint, first_name string, postcode array<bigint>"
    df_1 = spark.createDataFrame(
        [(1, "John", [1001, 1002]), (2, "Mary", [1002, 1003]),
         (3, "Jane", [1003]), (4, "John", [1001])], schema)
    df_2 = spark.createDataFrame(
        [(1, "John", [1001, 1004]), (2, "Mary", [1003, 1004]),
         (3, "Jayne", [1003])], schema)

    rule = block_on("postcode", arrays_to_explode=["postcode"])
    res = count_comparisons_from_blocking_rules(
        [df_1, df_2], blocking_rules=rule, link_type="link_only",
        unique_id_column_name="unique_id", record_sample_proportion=1.0,
    )[0]["marginal_comparison_count"]
    assert res == 6

    res = count_comparisons_from_blocking_rules(
        [df_1, df_2], blocking_rules=rule, link_type="link_and_dedupe",
        unique_id_column_name="unique_id", record_sample_proportion=1.0,
    )[0]["marginal_comparison_count"]
    assert res == 3 + 6 + 2


def test_count_comparisons_exploding_two_arrays_and_predicate(spark):
    """reference ::test_blocking_analysis_slow_methodology_exploding_2 — two
    exploded array columns plus a non-equality predicate; expected count is
    the brute-force cross-join with array intersections."""
    from splink_spark.blocking_analysis import count_comparisons_from_blocking_rules

    rows_1 = [
        (1, "John", [1, 2], [2, 3], 5),
        (2, "Mary", [10, 11, 12, 13], [11, 12], 5),
    ]
    rows_2 = [
        (1, "John", [1, 4], [1, 2, 3], 5),
        (2, "John", [5], [1, 2, 3], 5),
        (3, "John", [1], [1], 5),
        (4, "John", [1], [3], 1),
        (5, "Mary", [10], [11, 12], 5),
        (6, "Mary", [10], [11, 12], 1),
        (7, "Mary", [10, 11, 12, 13], [11, 12], 1),
    ]
    expected = sum(
        1
        for (_, fn_l, pc_l, age_l, _amt_l) in rows_1
        for (_, fn_r, pc_r, age_r, amt_r) in rows_2
        if fn_l == fn_r
        and set(pc_l) & set(pc_r)
        and set(age_l) & set(age_r)
        and amt_r > 2
    )
    schema = (
        "unique_id bigint, first_name string, postcode array<bigint>, "
        "age array<bigint>, amount bigint"
    )
    df_1 = spark.createDataFrame(rows_1, schema)
    df_2 = spark.createDataFrame(rows_2, schema)

    rule = {
        "blocking_rule": (
            "l.first_name = r.first_name and l.postcode = r.postcode "
            "and l.age = r.age and r.amount > 2"
        ),
        "arrays_to_explode": ["postcode", "age"],
    }
    res = count_comparisons_from_blocking_rules(
        [df_1, df_2], blocking_rules=rule, link_type="link_only",
        unique_id_column_name="unique_id",
        source_dataset_column_name="source_dataset",
        record_sample_proportion=1.0,
    )[0]["marginal_comparison_count"]
    assert res == expected and expected > 0


def test_count_comparisons_preconcat_equals_separate_frames(spark):
    """reference ::test_source_dataset_works_as_expected — a pre-concatenated
    frame with its own source-dataset column must count exactly like passing
    the frames separately (link_only counts cross-dataset pairs only)."""
    from splink_spark.blocking_analysis import count_comparisons_from_blocking_rules

    cols = ["unique_id", "first_name", "surname"]
    data_1 = [(1, "John", "Smith"), (2, "Mary", "Jones"),
              (3, "Jane", "Taylor"), (4, "John", "Brown")]
    data_2 = [(1, "John", "Smyth"), (2, "Mary", "Jones"), (3, "Jayne", "Tailor")]
    df_1 = spark.createDataFrame(data_1, cols)
    df_2 = spark.createDataFrame(data_2, cols)
    concat = spark.createDataFrame(
        [(*r, "df_1") for r in data_1] + [(*r, "df_2") for r in data_2],
        cols + ["src_dataset"],
    )

    r1 = count_comparisons_from_blocking_rules(
        concat, blocking_rules=[block_on("first_name")], link_type="link_only",
        unique_id_column_name="unique_id",
        source_dataset_column_name="src_dataset",
        record_sample_proportion=1.0,
    )
    r2 = count_comparisons_from_blocking_rules(
        [df_1, df_2], blocking_rules=[block_on("first_name")],
        link_type="link_only", unique_id_column_name="unique_id",
        source_dataset_column_name="source_dataset",
        record_sample_proportion=1.0,
    )
    assert [r["marginal_comparison_count"] for r in r1] == [
        r["marginal_comparison_count"] for r in r2
    ]
    assert (
        r1[0]["total_possible_comparison_count"]
        == r2[0]["total_possible_comparison_count"]
    )


def test_blocking_records_accuracy_literals(spark):
    """reference ::test_blocking_records_accuracy — per-rule marginal and
    cumulative counts with rule-overlap dedup and a NULL dob that must not
    self-match."""
    from splink_spark.blocking_analysis import count_comparisons_from_blocking_rules

    df = spark.createDataFrame(
        [(1, "Tom", "Fox", "1980-01-01"), (2, "Amy", "Lee", "1980-01-01"),
         (3, "Tom", "Ray", "1980-03-22"), (4, "Kim", "Lee", None)],
        ["unique_id", "first_name", "surname", "dob"],
    )

    def check(rules, marginal, cumulative):
        recs = count_comparisons_from_blocking_rules(
            df, blocking_rules=rules, link_type="dedupe_only",
            unique_id_column_name="unique_id", record_sample_proportion=1.0,
        )
        assert [r["marginal_comparison_count"] for r in recs] == marginal
        assert [r["cumulative_comparison_count"] for r in recs] == cumulative
        assert recs[0]["total_possible_comparison_count"] == 4 * 3 / 2

    check([block_on("first_name")], [1], [1])
    check(["l.surname = r.surname", "l.first_name = r.first_name"], [1, 1], [1, 2])
    check(
        [block_on("first_name"), block_on("first_name", "surname"), "l.dob = r.dob"],
        [1, 0, 1],
        [1, 1, 2],
    )


# ---------------------------------------------------------------------------
# great-circle distance literals (reference test_lat_long_distance.py)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "lat_l,long_l,lat_r,long_r,expected",
    [
        (0, 0, 0, 90, 10007),
        (0, 0, 90, 0, 10007),
        (-25, 0, 0, 90, 10007),
        (45, -30, 45, 150, 10007),
        (40, -20, 40, -20, 0),
        # identical points that overflow a naive ACOS formula (reference
        # issue #1005) — haversine is immune but must still return 0
        (29.7517, -95.4054, 29.7517, -95.4054, 0),
        (20, 40, -20, -140, 2 * 10007),
        (89, -60, -89, 120, 2 * 10007),
        (51.484, -0.115, -37.82, 144.983, 16905),
        (-78.525483, -85.617147, 68.9195, -29.898533, 16783),
        (37.814056, -122.477898, 37.825531, -122.479236, 1.2814),
        (89.9, 0, 89.9, 180, 22.24),
        (90, 30, 89.8, 40, 22.24),
        (0, -24, 0, -24.2, 22.24),
    ],
)
def test_lat_long_distance_formula_literals(
    spark, lat_l, long_l, lat_r, long_r, expected
):
    """reference test_lat_long_distance.py — the great-circle distances the
    reference pins (12742 km diameter spherical model), rel 1e-4 / abs 1e-3."""
    from pyspark.sql import functions as F

    from splink_spark.internals.column_expression import sql_literal
    from splink_spark.internals.functions import haversine_km

    row = (
        spark.range(1)
        .select(
            F.expr(haversine_km(
                *(sql_literal(float(v)) for v in (lat_l, long_l, lat_r, long_r))
            )).alias("d")
        )
        .collect()[0]
    )
    assert row["d"] == pytest.approx(expected, rel=1e-4, abs=1e-3)
