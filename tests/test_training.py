"""Training tests: EM parameter recovery on data generated from a KNOWN
Fellegi-Sunter model (mirrors reference tests/test_correctness_of_convergence.py
and the FIXTURES.md F4 generating parameters), u-estimation, and
deterministic-lambda estimation."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on
from splink_spark.internals.blocking import CustomRule
from splink_spark.internals.training import estimate_parameters_using_em

# F4 generating parameters (known_params_comparison_vectors)
TRUE_M = {"col_1": 0.7, "col_2": 0.9, "col_3": 0.95}  # P(gamma=1 | match)
TRUE_U = {"col_1": 0.1, "col_2": 0.025, "col_3": 0.2}  # P(gamma=1 | non-match)
TRUE_LAMBDA = 0.5


def _synthesize_pairs(n: int, seed: int = 42):
    """Pairs drawn from the known model: match w.p. lambda, then each binary
    gamma drawn from m or u."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        is_match = rng.random() < TRUE_LAMBDA
        probs = TRUE_M if is_match else TRUE_U
        rows.append(
            (
                2 * i,
                2 * i + 1,
                "a" if rng.random() < probs["col_1"] else "b",
                "a" if rng.random() < probs["col_2"] else "b",
                "a" if rng.random() < probs["col_3"] else "b",
            )
        )
    return rows


@pytest.fixture(scope="module")
def em_fixture(spark):
    """Turn synthetic pairs into a node table where pair (2i, 2i+1) shares a
    pair_id blocking key; col_k_l/r values encode agreement."""
    rng = random.Random(7)
    pair_rows = _synthesize_pairs(4000)
    node_rows = []
    for pid, (l_id, r_id, a1, a2, a3) in enumerate(pair_rows):
        # left record: fixed values; right record: equal iff gamma=1
        def other(v, agree):
            return v if agree == "a" else f"x{rng.random():.9f}"

        v1, v2, v3 = f"v1_{pid}", f"v2_{pid}", f"v3_{pid}"
        node_rows.append((l_id, pid, v1, v2, v3))
        node_rows.append((r_id, pid, other(v1, a1), other(v2, a2), other(v3, a3)))
    return spark.createDataFrame(
        node_rows, ["unique_id", "pair_id", "col_1", "col_2", "col_3"]
    )


def test_em_recovers_known_parameters(spark, em_fixture):
    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[cl.ExactMatch("col_1"), cl.ExactMatch("col_2"), cl.ExactMatch("col_3")],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
        probability_two_random_records_match=0.2,  # mediocre prior; EM must recover
    )
    linker = Linker(em_fixture, settings)
    result = estimate_parameters_using_em(
        linker, block_on("pair_id"), fix_u_probabilities=False
    )
    # recovered m/u for gamma=1 within sampling noise of the generating model
    for i, col in enumerate(["col_1", "col_2", "col_3"]):
        m_hat = result["m"][f"{col}[1]"]
        u_hat = result["u"][f"{col}[1]"]
        assert m_hat == pytest.approx(TRUE_M[col], abs=0.05), col
        assert u_hat == pytest.approx(TRUE_U[col], abs=0.05), col
    assert result["lambda"] == pytest.approx(TRUE_LAMBDA, abs=0.05)
    # settings got the trained values written back
    assert settings.all_probabilities_set


def test_em_deactivates_comparisons_on_rule_columns(spark, em_fixture):
    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[cl.ExactMatch("col_1"), cl.ExactMatch("col_2"), cl.ExactMatch("col_3")],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
    )
    linker = Linker(em_fixture, settings)
    result = estimate_parameters_using_em(linker, block_on("col_1"))
    assert not any(k.startswith("col_1") for k in result["m"])
    assert any(k.startswith("col_2") for k in result["m"])


def test_estimate_u_random_sampling(spark):
    """u for an exact match on a uniform 10-value column ~ 0.1."""
    rng = random.Random(3)
    rows = [(i, f"v{rng.randrange(10)}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["unique_id", "col"])
    settings = SettingsCreator(
        comparisons=[cl.ExactMatch("col")],
        blocking_rules_to_generate_predictions=[block_on("col")],
    )
    linker = Linker(df, settings)
    result = linker.training.estimate_u_using_random_sampling(max_pairs=2e5, seed=1)
    assert result["col[1]"] == pytest.approx(0.1, abs=0.02)
    assert result["col[0]"] == pytest.approx(0.9, abs=0.02)


def test_estimate_lambda_from_deterministic_rules(spark):
    """200 records = 100 duplicated entities; rule 'exact name' has perfect
    recall → lambda = 100 / C(200,2)."""
    rows = []
    for e in range(100):
        rows.append((2 * e, f"name_{e}"))
        rows.append((2 * e + 1, f"name_{e}"))
    df = spark.createDataFrame(rows, ["unique_id", "name"])
    settings = SettingsCreator(
        comparisons=[cl.ExactMatch("name")],
        blocking_rules_to_generate_predictions=[block_on("name")],
    )
    linker = Linker(df, settings)
    prob = linker.training.estimate_probability_two_random_records_match(
        [block_on("name")], recall=1.0
    )
    expected = 100 / (200 * 199 / 2)
    assert prob == pytest.approx(expected, rel=1e-9)


def test_deterministic_count_by_aggregation_matches_join(spark):
    """The inclusion-exclusion per-key count must equal the executed
    blocking join's pair count — overlapping rules, nulls, dedupe + link."""
    from splink_spark.internals.blocking import block_using_rules
    from splink_spark.internals.training import (
        _deterministic_pairs_count_via_aggregation,
    )

    rng = random.Random(5)
    rows = []
    for i in range(400):
        name = f"n{rng.randrange(40)}" if rng.random() > 0.1 else None
        city = f"c{rng.randrange(8)}" if rng.random() > 0.1 else None
        dob = f"d{rng.randrange(25)}"
        rows.append((i, name, city, dob))
    df = spark.createDataFrame(rows, ["unique_id", "name", "city", "dob"])
    rules = [block_on("name"), block_on("city", "dob"), block_on("dob")]

    settings = SettingsCreator(
        comparisons=[cl.ExactMatch("name")],
        blocking_rules_to_generate_predictions=[block_on("name")],
    )
    linker = Linker(df, settings)
    agg = _deterministic_pairs_count_via_aggregation(linker, rules)
    joined = block_using_rules(
        linker.df_concat(), rules, link_type="dedupe_only",
        unique_id_column_name="unique_id",
    ).count()
    assert agg == joined

    # link_only: within-dataset pairs must be excluded
    half = len(rows) // 2
    df_a = spark.createDataFrame(rows[:half], ["unique_id", "name", "city", "dob"])
    df_b = spark.createDataFrame(rows[half:], ["unique_id", "name", "city", "dob"])
    link_settings = SettingsCreator(
        link_type="link_only",
        comparisons=[cl.ExactMatch("name")],
        blocking_rules_to_generate_predictions=[block_on("name")],
    )
    link_linker = Linker([df_a, df_b], link_settings)
    agg_l = _deterministic_pairs_count_via_aggregation(link_linker, rules)
    joined_l = block_using_rules(
        link_linker.df_concat(), rules, link_type="link_only",
        unique_id_column_name="unique_id",
        source_dataset_column_name=link_settings.source_dataset_column_name,
    ).count()
    assert agg_l == joined_l

    # non-equality rule → not eligible, caller must fall back
    assert (
        _deterministic_pairs_count_via_aggregation(
            linker, [CustomRule("abs(l.unique_id - r.unique_id) < 2")]
        )
        is None
    )


def test_trained_model_predict_matches_driver_recompute(spark, em_fixture):
    """Cross-path consistency (reference test_train_vs_predict.py): the
    probabilities predict() computes JVM-side from the TRAINED parameters
    must equal a driver-side recomputation of the Fellegi-Sunter formula
    from the same written-back m/u/lambda — catches write-back (median
    fold, deactivation) and scoring-expression divergence in one shot."""
    import math

    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[cl.ExactMatch("col_1"), cl.ExactMatch("col_2"), cl.ExactMatch("col_3")],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
        probability_two_random_records_match=0.2,
    )
    linker = Linker(em_fixture, settings)
    estimate_parameters_using_em(linker, block_on("pair_id"), fix_u_probabilities=False)
    assert settings.all_probabilities_set

    mu = {}
    for comp in settings.comparisons:
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            mu[(comp.output_column_name, lv.comparison_vector_value)] = (
                lv.m_probability, lv.u_probability,
            )
    lam = settings.probability_two_random_records_match
    prior_mw = math.log2(lam / (1 - lam))

    rows = linker.inference.predict().collect()
    assert len(rows) == 4000
    for r in rows[::97]:  # sample every 97th pair
        mw = prior_mw
        for c in ("col_1", "col_2", "col_3"):
            g = r[f"gamma_{c}"]
            if g != -1:
                m, u = mu[(c, g)]
                mw += math.log2(m / u)
        expected = 2**mw / (1 + 2**mw)
        assert r["match_weight"] == pytest.approx(mw, rel=1e-9)
        assert r["match_probability"] == pytest.approx(expected, rel=1e-9)


def test_estimate_u_chunked_equals_unchunked(spark):
    rng = random.Random(11)
    rows = [(i, f"v{rng.randrange(10)}") for i in range(1500)]
    df = spark.createDataFrame(rows, ["unique_id", "col"])
    # two datasets whose uids collide: chunks must split the
    # (source_dataset, uid)-ordered pairs of a link_and_dedupe job exactly
    df_a = spark.createDataFrame(rows[:750], ["unique_id", "col"])
    df_b = spark.createDataFrame(
        [(i - 750, c) for i, c in rows[750:]], ["unique_id", "col"]
    )

    def run(frames, link_type, **kw):
        settings = SettingsCreator(
            link_type=link_type,
            comparisons=[cl.ExactMatch("col")],
            blocking_rules_to_generate_predictions=[block_on("col")],
        )
        linker = Linker(frames, settings)
        return linker.training.estimate_u_using_random_sampling(
            max_pairs=2e5, seed=1, **kw
        )

    for frames, link_type in ((df, "dedupe_only"), ([df_a, df_b], "link_and_dedupe")):
        base = run(frames, link_type)
        chunked = run(frames, link_type, num_chunks=4)
        # all chunks processed -> identical pair set -> identical estimates
        assert chunked["col[1]"] == pytest.approx(base["col[1]"], rel=1e-9), link_type
        assert chunked["col[0]"] == pytest.approx(base["col[0]"], rel=1e-9), link_type

    early = run(df, "dedupe_only", num_chunks=4, min_count_per_level=5)
    # early stop uses fewer pairs but must stay near the true value 0.1
    assert early["col[1]"] == pytest.approx(0.1, abs=0.04)


def test_training_releases_what_it_caches(spark):
    """u-sampling's record sample and the with-TF EM session's comparison
    vectors are cached for the stage and released when it ends: a long
    session keeps no persisted RDD they created."""
    rng = random.Random(3)
    rows = [
        (i, f"f{rng.randrange(40)}", f"s{rng.randrange(30)}",
         f"d{rng.randrange(50)}", f"c{rng.randrange(8)}")
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, ["unique_id", "first_name", "surname", "dob", "city"])
    settings = SettingsCreator(
        comparisons=[
            cl.ExactMatch("first_name", term_frequency_adjustments=True),
            cl.ExactMatch("surname", term_frequency_adjustments=True),
            cl.ExactMatch("dob"),
            cl.ExactMatch("city", term_frequency_adjustments=True),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
    )
    linker = Linker(df, settings)
    linker.df_concat_with_tf().count()  # the linker's own node table stays
    # compare ids, not sizes: the context cleaner may release other tests'
    # caches while this one runs
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    baseline = persisted()
    for col in ("dob", "surname", "city"):
        estimate_parameters_using_em(
            linker, block_on(col), estimate_without_term_frequencies=False
        )
    for seed in (1, 2):
        linker.training.estimate_u_using_random_sampling(max_pairs=1e4, seed=seed)
    assert persisted() - baseline == set()


def test_em_with_tf_path_matches_pattern_path_without_tf(spark, em_fixture):
    """With no TF-adjusted comparisons, the with-TF E-step must converge to
    the same parameters as the agreement-pattern fast path."""
    def run(without_tf):
        settings = SettingsCreator(
            link_type="dedupe_only",
            comparisons=[cl.ExactMatch("col_1"), cl.ExactMatch("col_2"),
                         cl.ExactMatch("col_3")],
            blocking_rules_to_generate_predictions=[block_on("pair_id")],
            probability_two_random_records_match=0.2,
        )
        linker = Linker(em_fixture, settings)
        return estimate_parameters_using_em(
            linker, block_on("pair_id"),
            fix_u_probabilities=False,
            estimate_without_term_frequencies=without_tf,
        )

    fast = run(True)
    full = run(False)
    for key in fast["m"]:
        assert full["m"][key] == pytest.approx(fast["m"][key], rel=1e-6), key
        assert full["u"][key] == pytest.approx(fast["u"][key], rel=1e-6), key
    assert full["lambda"] == pytest.approx(fast["lambda"], rel=1e-6)


def test_em_with_tf_adjustments_runs(spark, persons):
    settings = SettingsCreator(
        comparisons=[cl.ExactMatch("surname"),
                     cl.ExactMatch("city", term_frequency_adjustments=True)],
        blocking_rules_to_generate_predictions=[block_on("dob")],
    )
    linker = Linker(persons, settings)
    out = estimate_parameters_using_em(
        linker, block_on("dob"), estimate_without_term_frequencies=False
    )
    assert "city[1]" in out["m"] and 0 < out["m"]["city[1]"] <= 1
    assert len(out["history"]) >= 1


def _preset(comp, mus):
    for lv in comp.comparison_levels:
        if not lv.is_null_level:
            lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
    return comp


def test_em_lambda_blocking_adjustment_and_reversal(spark, em_fixture):
    """Session lambda init = global prior pushed through the reversed
    exact-match level's Bayes factor (em_training_session.py:367-397), and
    populate_...=True reverses the TRAINED Bayes factor on write-back
    (linker.py:383-457)."""
    import math as _m

    global_lam = 0.01
    m1, u1 = 0.8, 0.1  # col_1 exact level — bf = 8
    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[
            _preset(cl.ExactMatch("col_1"), {1: (m1, u1), 0: (0.2, 0.9)}),
            cl.ExactMatch("col_2"),
            cl.ExactMatch("col_3"),
        ],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
        probability_two_random_records_match=global_lam,
    )
    linker = Linker(em_fixture, settings)
    out = estimate_parameters_using_em(
        linker, block_on("col_1"),
        fix_probability_two_random_records_match=True,  # freeze at the init
        max_iterations=1,
        populate_probability_two_random_records_match_from_trained_values=True,
    )
    bf0 = global_lam / (1 - global_lam) * (m1 / u1)
    expected_init = bf0 / (1 + bf0)
    assert out["lambda"] == pytest.approx(expected_init, rel=1e-9)
    # reversal: col_1's level has preset (not trained) values -> divide by m1/u1
    # exactly undoes the adjustment -> global lambda restored
    assert settings.probability_two_random_records_match == pytest.approx(
        global_lam, rel=1e-9
    )


def test_reverse_levels_require_colname_subset():
    """Reference settings.py:503-533: an equality training rule reverses only
    exact-match levels whose asserted columns are a SUBSET of the blocking
    columns, preferring the largest subset and consuming each column at most
    once. A compound level (a AND b AND c) is NOT implied by blocking on a
    alone — reversing it would bias the session lambda by the extra columns'
    Bayes factors."""
    from splink_spark.internals.settings import Settings
    from splink_spark.internals.training import _levels_to_reverse_blocking_rule

    def m(c):
        return f"{c}_l = {c}_r"

    settings = Settings.from_dict(
        {
            "link_type": "dedupe_only",
            "blocking_rules_to_generate_predictions": [m("first_name")],
            "comparisons": [
                {
                    "output_column_name": "name",
                    "comparison_levels": [
                        {"sql_condition": (
                            "first_name_l IS NULL OR first_name_r IS NULL"),
                         "is_null_level": True},
                        {"sql_condition": (
                            f"{m('first_name')} AND {m('middle_name')} "
                            f"AND {m('surname')}"),
                         "label_for_charts": "all three"},
                        {"sql_condition": m("first_name"),
                         "label_for_charts": "exact first"},
                        {"sql_condition": "ELSE"},
                    ],
                },
                {
                    "output_column_name": "sur",
                    "comparison_levels": [
                        {"sql_condition": (
                            "surname_l IS NULL OR surname_r IS NULL"),
                         "is_null_level": True},
                        {"sql_condition": m("surname"),
                         "label_for_charts": "exact surname"},
                        {"sql_condition": "ELSE"},
                    ],
                },
            ],
        }
    )

    def rev(rule):
        return [
            (c.output_column_name, frozenset(lv.exact_match_colnames))
            for c, lv in _levels_to_reverse_blocking_rule(settings, rule)
        ]

    # blocking on first_name alone: the compound level is NOT a subset —
    # only the single exact-first level reverses
    assert rev(block_on("first_name")) == [("name", frozenset({"first_name"}))]
    # all three columns blocked: the compound level wins (largest subset) and
    # CONSUMES surname, so the sur comparison's single level does not also
    # reverse
    assert rev(block_on("first_name", "middle_name", "surname")) == [
        ("name", frozenset({"first_name", "middle_name", "surname"}))
    ]
    # two of three: compound not a subset — both singles reverse
    assert set(rev(block_on("first_name", "surname"))) == {
        ("name", frozenset({"first_name"})),
        ("sur", frozenset({"surname"})),
    }
    # non-equality rule claims no columns: nothing reverses
    assert rev(CustomRule("levenshtein(first_name_l, first_name_r) <= 1")) == []


def test_em_lambda_not_written_back_by_default(spark, em_fixture):
    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[cl.ExactMatch("col_1"), cl.ExactMatch("col_2"),
                     cl.ExactMatch("col_3")],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
        probability_two_random_records_match=0.2,
    )
    linker = Linker(em_fixture, settings)
    out = estimate_parameters_using_em(linker, block_on("pair_id"))
    # lambda trained freely in-session ...
    assert out["lambda"] != pytest.approx(0.2, abs=1e-6)
    # ... but the model's global prior is untouched (reference default)
    assert settings.probability_two_random_records_match == 0.2


def test_em_fix_u_default_keeps_u(spark, em_fixture):
    """Default fix_u_probabilities=True: EM must not overwrite u estimates
    (they come from unbiased random sampling, not the biased block)."""
    preset_u = {1: 0.123, 0: 0.877}
    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[
            cl.ExactMatch("col_1"),
            _preset(cl.ExactMatch("col_2"), {1: (0.5, preset_u[1]), 0: (0.5, preset_u[0])}),
            cl.ExactMatch("col_3"),
        ],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
        probability_two_random_records_match=0.2,
    )
    linker = Linker(em_fixture, settings)
    estimate_parameters_using_em(linker, block_on("pair_id"))
    col2 = settings.comparisons[1]
    for lv in col2.comparison_levels:
        if lv.is_null_level:
            continue
        assert lv.u_probability == pytest.approx(preset_u[lv.comparison_vector_value])
        assert lv.m_probability != pytest.approx(0.5)  # m WAS trained


def test_em_max_pairs_bounds_cv_and_stays_close(spark, em_fixture):
    settings_full = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[cl.ExactMatch("col_1"), cl.ExactMatch("col_2"),
                     cl.ExactMatch("col_3")],
        blocking_rules_to_generate_predictions=[block_on("pair_id")],
        probability_two_random_records_match=0.2,
    )
    linker = Linker(em_fixture, settings_full)
    out = estimate_parameters_using_em(
        linker, block_on("pair_id"), fix_u_probabilities=False,
        max_pairs=1000, record_sample_proportion=0.5,
    )
    info = out["sample_info"]
    assert info["sampling_applied"] is True
    # 4000 blocked pairs estimated; cap 1000 -> expected after sampling ~1000
    assert info["expected_pairs_after_sampling"] == pytest.approx(1000, rel=0.25)
    # parameters still in the right neighbourhood despite 4x fewer pairs
    assert out["m"]["col_2[1]"] == pytest.approx(TRUE_M["col_2"], abs=0.12)
    # the probe's record sampler rejects a proportion outside (0, 1]
    for bad in (0.0, 1.5):
        with pytest.raises(ValueError):
            estimate_parameters_using_em(
                linker, block_on("pair_id"), max_pairs=1000,
                record_sample_proportion=bad,
            )


def test_estimate_u_minstd_sampler_matches_xxhash_statistically(spark):
    """sampling_method='minstd' (the oracle-portable hash) estimates the same
    u as the xxhash64 default on a uniform column, and rejects unknowns."""
    rng = random.Random(5)
    rows = [(i, f"v{rng.randrange(10)}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["unique_id", "col"])
    settings = SettingsCreator(
        comparisons=[cl.ExactMatch("col")],
        blocking_rules_to_generate_predictions=[block_on("col")],
    )
    linker = Linker(df, settings)
    res = linker.training.estimate_u_using_random_sampling(
        max_pairs=2e5, sampling_method="minstd"
    )
    assert res["col[1]"] == pytest.approx(0.1, abs=0.02)
    # deterministic: a second run returns the identical estimate
    linker2 = Linker(df, settings)
    res2 = linker2.training.estimate_u_using_random_sampling(
        max_pairs=2e5, sampling_method="minstd"
    )
    assert res2["col[1]"] == res["col[1]"]
    with pytest.raises(ValueError):
        linker.training.estimate_u_using_random_sampling(sampling_method="bogus")


def _em_vs_predict_ladder(case):
    """One comparison (as a settings dict) with m/u set on every level."""
    null = {"sql_condition": "my_col_l IS NULL OR my_col_r IS NULL", "is_null_level": True}
    else_ = {"sql_condition": "ELSE", "m_probability": 0.1, "u_probability": 0.643}
    if case == "disable_detection":
        levels = [
            null,
            {"sql_condition": "my_col_l = my_col_r", "tf_adjustment_column": "my_col",
             "m_probability": 0.7, "u_probability": 0.123},
            {"sql_condition": "levenshtein(my_col_l, my_col_r) <= 1",
             "tf_adjustment_column": "my_col", "disable_tf_exact_match_detection": True,
             "m_probability": 0.2, "u_probability": 0.234},
            else_,
        ]
        return {"output_column_name": "my_col", "comparison_levels": levels}
    if case == "two_tf_columns":
        levels = [
            {"sql_condition": "forename_l IS NULL OR forename_r IS NULL", "is_null_level": True},
            {"sql_condition": "forename_l = forename_r", "tf_adjustment_column": "forename",
             "m_probability": 0.6, "u_probability": 0.02},
            {"sql_condition": "surname_l = surname_r", "tf_adjustment_column": "surname",
             "m_probability": 0.3, "u_probability": 0.05},
            else_,
        ]
        return {"output_column_name": "name", "comparison_levels": levels}
    levels = [
        null,
        {"sql_condition": "my_col_l = my_col_r", "tf_adjustment_column": "my_col",
         "m_probability": 0.8, "u_probability": 0.1},
        else_,
    ]
    return {"output_column_name": "my_col", "comparison_levels": levels}


@pytest.mark.parametrize("case", ["disable_detection", "two_tf_columns", "single_column"])
def test_em_tf_estep_equals_predict(spark, case):
    """The with-TF E-step's expected counts, computed from the levels' own
    m/u and prior, equal the same sums over predict's match_probability:
    both score a pair, TF term included, through one match weight."""
    from splink_spark.internals.predict import predict_from_comparison_vectors
    from splink_spark.internals.training import _em_tf_aggs

    rows = [
        (1, 1, "smith", "anna", "lee"), (2, 1, "smith", "anna", "ray"),
        (3, 1, "smyth", "bob", "lee"), (4, 1, "jones", "cara", "lee"),
        (5, 2, "smith", "anna", "moss"), (6, 2, "brown", "dan", "moss"),
        (7, 2, None, None, None),
    ]
    df = spark.createDataFrame(rows, ["unique_id", "grp", "my_col", "forename", "surname"])
    prior = 0.01
    linker = Linker(df, {
        "link_type": "dedupe_only",
        "comparisons": [_em_vs_predict_ladder(case)],
        "blocking_rules_to_generate_predictions": ["l.grp = r.grp"],
        "probability_two_random_records_match": prior,
    })
    comps = linker.settings.comparisons
    m, u = {}, {}
    for ci, comp in enumerate(comps):
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                m[(ci, lv.comparison_vector_value)] = lv.m_probability
                u[(ci, lv.comparison_vector_value)] = lv.u_probability
    cv = linker.comparison_vectors(rules=[block_on("grp")])
    estep = cv.agg(*_em_tf_aggs(comps, m, u, prior)).collect()[0].asDict()

    p = F.col("match_probability")
    expected = [F.sum(p).alias("__lam_num")]
    for ci, k in m:
        hit = (F.col(comps[ci].gamma_column_name) == k).cast("double")
        expected.append(F.sum(p * hit).alias(f"__m_{ci}_{k}"))
        expected.append(F.sum((F.lit(1.0) - p) * hit).alias(f"__u_{ci}_{k}"))
    scored = predict_from_comparison_vectors(cv, linker.settings)
    want = scored.agg(*expected).collect()[0].asDict()
    for key, value in want.items():
        assert estep[key] == pytest.approx(value, rel=1e-12, abs=1e-15), key
