"""Randomised settings round-trip fuzz: compose models from the level/
comparison library with randomised thresholds, TF config, prefixes and
blocking rules; every one must (a) survive as_dict -> from_dict -> as_dict
as a fixpoint, and (b) produce an identical predict() output after the
round trip (the reference guarantees model-JSON interchange)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_level_library as cll
import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, Settings, SettingsCreator, block_on, realtime


def _random_comparison(rng: random.Random, col: str):
    kind = rng.choice(["exact", "lev", "jw", "template", "custom_ladder"])
    if kind == "exact":
        return cl.ExactMatch(col, term_frequency_adjustments=rng.random() < 0.5)
    if kind == "lev":
        ts = sorted(rng.sample(range(1, 6), rng.randint(1, 2)))
        return cl.LevenshteinAtThresholds(col, ts)
    if kind == "jw":
        ts = sorted({round(rng.uniform(0.5, 0.95), 2) for _ in range(rng.randint(1, 2))},
                    reverse=True)
        return cl.JaroWinklerAtThresholds(col, list(ts))
    if kind == "template":
        return cl.NameComparison(col)
    levels = [cll.NullLevel(col), cll.ExactMatchLevel(col)]
    if rng.random() < 0.5:
        levels.append(cll.LevenshteinLevel(col, rng.randint(1, 3)))
    if rng.random() < 0.5:
        levels.append(
            cll.CustomLevel(f"substr({col}_l, 1, 2) = substr({col}_r, 1, 2)")
        )
    levels.append(cll.ElseLevel())
    from splink_spark.internals.comparison import Comparison

    return Comparison(col, levels, input_columns=[col])


def _random_settings(rng: random.Random) -> Settings:
    cols = rng.sample(["first_name", "surname", "city", "email"], rng.randint(2, 3))
    comparisons = [_random_comparison(rng, c) for c in cols]
    # every non-null level needs probabilities for predict
    for comp in comparisons:
        scorable = [lv for lv in comp.comparison_levels if not lv.is_null_level]
        n = len(scorable)
        ms = [rng.uniform(0.05, 1.0) for _ in range(n)]
        us = [rng.uniform(0.05, 1.0) for _ in range(n)]
        for lv, m, u in zip(scorable, ms, us):
            lv.m_probability = m / sum(ms)
            lv.u_probability = u / sum(us)
    rules = [block_on("dob")]
    if rng.random() < 0.5:
        rules.append("l.city = r.city")
    kw = {}
    if rng.random() < 0.3:
        kw["comparison_vector_value_column_prefix"] = "g_"
    if rng.random() < 0.3:
        kw["bayes_factor_column_prefix"] = "bfx_"
    kw["probability_two_random_records_match"] = rng.uniform(0.001, 0.2)
    kw["retain_matching_columns"] = rng.random() < 0.7
    kw["retain_intermediate_calculation_columns"] = rng.random() < 0.5
    if rng.random() < 0.5:
        kw["term_frequency_adjustment_column_prefix"] = "tfx_"
    return SettingsCreator(
        link_type="dedupe_only",
        comparisons=comparisons,
        blocking_rules_to_generate_predictions=rules,
        **kw,
    )


@pytest.mark.parametrize("seed", range(12))
def test_settings_round_trip_fixpoint_and_predict_equality(spark, persons, seed):
    rng = random.Random(1000 + seed)
    settings = _random_settings(rng)

    d1 = settings.as_dict()
    rebuilt = Settings.from_dict(d1)
    d2 = rebuilt.as_dict()
    assert d1 == d2, "as_dict -> from_dict -> as_dict is not a fixpoint"

    def rows(s):
        df = Linker(persons, s).inference.predict()
        key_cols = [c for c in df.columns if c.endswith("_l") or c.endswith("_r")
                    or c.startswith(("gamma_", "g_"))]
        return sorted(
            tuple(repr(r[c]) for c in sorted(key_cols))
            + (round(r["match_weight"], 9),)
            for r in df.collect()
        )

    assert rows(settings) == rows(rebuilt)

    # one pair through the standalone realtime path, given the linker's TF
    # values under the settings' prefix, scores as compare_two_records does
    linker = Linker(persons, settings)
    r1, r2 = (
        {k: v for k, v in r.asDict().items() if k != "cluster"}
        for r in persons.where(F.col("unique_id").isin(0, 2)).orderBy("unique_id").collect()
    )
    tfs = {c: dict(t.collect()) for c, t in linker.tf_tables().items()}
    prefix = settings.term_frequency_adjustment_column_prefix
    with_tf = [
        r | {f"{prefix}{c}": tf.get(r[c]) for c, tf in tfs.items()} for r in (r1, r2)
    ]
    via_linker = linker.inference.compare_two_records(r1, r2).collect()[0]
    via_facade = realtime.compare_records(*with_tf, settings, spark=spark).collect()[0]
    assert via_facade["match_weight"] == pytest.approx(
        via_linker["match_weight"], abs=1e-9
    )

    # the same two records under one unique id are still one pair
    same_uid = linker.inference.compare_two_records(
        r1, r2 | {"unique_id": r1["unique_id"]}
    ).collect()
    assert len(same_uid) == 1
    assert same_uid[0]["match_weight"] == pytest.approx(
        via_linker["match_weight"], abs=1e-9
    )
