"""Threshold-bounded scoring: a thresholded scorer drops the pairs whose
match weight cannot reach the threshold before any similarity function runs.
The output must equal scoring every pair and thresholding afterwards, for
``predict``, ``predict_between`` and ``predict_chunk``.

The model's m/u are dyadic, so most match weights are exact small integers
and some pairs score exactly 0 (p = 0.5), right on the threshold."""

from __future__ import annotations

import logging
import random

import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_level_library as cll
import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on
from splink_spark.internals.splink_logging import PIPELINE

_FIRST = ["anna", "annie", "ana", "bob", "robert", "bert", "carla", "karla", "dan", "daniel"]
_SUR = ["smith", "smith", "smith", "jones", "jones", "li", "patel", "khan"]
_CITY = ["leeds", "york", "bath"]
_DOB = ["1990-01-01", "1990-01-02", "1985-05-05", "1985-05-06"]


def _records(n: int, seed: int) -> list[tuple]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        first = rng.choice(_FIRST) if rng.random() > 0.1 else None
        email = f"{rng.choice(_FIRST)}{rng.randint(0, 3)}@x.org" if rng.random() > 0.3 else None
        # city is null-heavy
        city = rng.choice(_CITY) if rng.random() > 0.7 else None
        out.append((i, first, rng.choice(_SUR), rng.choice(_DOB), city, email))
    return out


_COLS = ["unique_id", "first_name", "surname", "dob", "city", "email"]


def _model(link_type: str = "dedupe_only"):
    """Weights: first_name exact 3 / jw>=0.9 2 / jw>=0.7 1 / else -2;
    surname exact 4 + TF / else -2; dob exact 2 / else -2; city exact 1 /
    else -1; email (CustomLevel on the first three characters) 2 / else -1;
    prior -2."""
    comps = [
        cl.JaroWinklerAtThresholds("first_name", [0.9, 0.7]).configure(
            m_probabilities=[0.5, 0.25, 0.125, 0.125],
            u_probabilities=[0.0625, 0.0625, 0.0625, 0.5],
        ),
        cl.ExactMatch("surname", term_frequency_adjustments=True).configure(
            m_probabilities=[0.5, 0.25], u_probabilities=[0.03125, 1.0]
        ),
        cl.ExactMatch("dob").configure(
            m_probabilities=[0.5, 0.25], u_probabilities=[0.125, 1.0]
        ),
        cl.ExactMatch("city").configure(
            m_probabilities=[0.5, 0.5], u_probabilities=[0.25, 1.0]
        ),
        cl.CustomComparison(
            "email",
            [
                cll.NullLevel("email"),
                cll.CustomLevel("substr(email_l, 1, 3) = substr(email_r, 1, 3)"),
                cll.ElseLevel(),
            ],
            input_columns=["email"],
        ).configure(m_probabilities=[0.5, 0.25], u_probabilities=[0.125, 0.5]),
    ]
    return SettingsCreator(
        link_type=link_type,
        comparisons=comps,
        blocking_rules_to_generate_predictions=[block_on("dob"), block_on("surname")],
        probability_two_random_records_match=0.2,
    )


@pytest.fixture(scope="module")
def records(spark):
    return spark.createDataFrame(_records(120, seed=7), _COLS)


def _key_cols(df):
    return [c for c in ("source_dataset_l", "unique_id_l", "source_dataset_r", "unique_id_r")
            if c in df.columns]


def _rows(df) -> set:
    keys = _key_cols(df)
    return {tuple(r) for r in df.select(*keys, "match_weight").collect()}


def _filtered(df, p=None, w=None) -> set:
    if w is not None:
        df = df.where(F.col("match_weight") >= w)
    if p is not None:
        df = df.where(F.col("match_probability") >= p)
    return _rows(df)


_THRESHOLDS = [
    {"threshold_match_probability": 0.5},
    {"threshold_match_probability": 0.9},
    {"threshold_match_probability": 0.0},
    {"threshold_match_probability": 1.0},
    {"threshold_match_weight": 2.0},
    {"threshold_match_weight": 3.5, "threshold_match_probability": 0.5},
]


def _as_filter(kw) -> dict:
    return {"p": kw.get("threshold_match_probability"), "w": kw.get("threshold_match_weight")}


def test_thresholded_predict_equals_filtered(spark, records):
    everything = Linker(records, _model()).inference.predict()
    # the threshold itself is reachable: some pairs score exactly 0 (p = 0.5)
    assert everything.where(F.col("match_weight") == 0.0).count() > 0
    for kw in _THRESHOLDS:
        got = Linker(records, _model()).inference.predict(**kw)
        assert _rows(got) == _filtered(everything, **_as_filter(kw)), kw
        assert _rows(got._splink_narrow) == _rows(got)


def test_bound_prunes_before_gammas_and_is_recorded(spark, records):
    linker = Linker(records, _model())
    out = linker.inference.predict(threshold_match_probability=0.5)
    bound = out._splink_score_bound
    assert bound["w_min"] < 0.0 < bound["w_min"] + 1e-6
    by_name = {c["comparison"]: c for c in bound["comparisons"]}
    assert by_name["surname"]["unbounded"].startswith("term-frequency adjusted")
    assert by_name["surname"]["arms"][1][1] == float("inf")
    assert by_name["first_name"]["else_max"] == 2.0
    assert by_name["email"]["arms"] == [("email is NULL", 0.0)]
    assert by_name["dob"]["unbounded"] is None
    reached = linker.comparison_vectors(min_match_weight=bound["w_min"]).count()
    assert 0 < reached < linker.comparison_vectors().count()
    assert Linker(records, _model()).inference.predict()._splink_score_bound is None


def test_score_bound_logged_at_pipeline_level(spark, records):
    lines = []

    class _Keep(logging.Handler):
        def emit(self, record):
            lines.append(record.getMessage())

    lg = logging.getLogger("splink_spark.internals.predict")
    handler, old = _Keep(level=PIPELINE), lg.level
    lg.addHandler(handler)
    lg.setLevel(PIPELINE)
    try:
        Linker(records, _model()).inference.predict(threshold_match_weight=1.0)
    finally:
        lg.removeHandler(handler)
        lg.setLevel(old)
    assert any("w_min=" in m for m in lines)
    assert any(m.startswith("score bound: surname") and "term-frequency" in m for m in lines)


def test_thresholded_predict_between_equals_filtered(spark, records):
    left, right = records.where("unique_id < 60"), records.where("unique_id >= 60")
    inf = Linker(records, _model()).inference
    everything = inf.predict_between(left, right)
    for kw in _THRESHOLDS:
        got = inf.predict_between(left, right, **kw)
        assert _rows(got) == _filtered(everything, **_as_filter(kw)), kw


def test_thresholded_predict_chunk_equals_filtered(spark, records):
    inf = Linker(records, _model()).inference
    for chunk in [((0, 2), (1, 2)), ((1, 2), (0, 2))]:
        everything = inf.predict_chunk(*chunk)
        for kw in _THRESHOLDS:
            got = inf.predict_chunk(*chunk, **kw)
            assert _rows(got) == _filtered(everything, **_as_filter(kw)), (kw, chunk)


def test_thresholded_link_only_equals_filtered(spark):
    # both datasets reuse the same unique ids: pairs are keyed by dataset too
    a = spark.createDataFrame(_records(70, seed=1), _COLS)
    b = spark.createDataFrame(_records(70, seed=2), _COLS)
    everything = Linker({"a": a, "b": b}, _model("link_only")).inference.predict()
    assert "source_dataset_l" in everything.columns
    for kw in [{"threshold_match_probability": 0.5}, {"threshold_match_weight": 2.0}]:
        got = Linker({"a": a, "b": b}, _model("link_only")).inference.predict(**kw)
        assert _rows(got) == _filtered(everything, **_as_filter(kw)), kw


def _join_lines(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [line for line in plan.split("\n") if "Join" in line]


def test_no_similarity_function_in_thresholded_join_conditions(spark, records):
    """Thresholded predict_between / predict_chunk score each pair once:
    neither the threshold nor the bound may be pushed into a join
    condition, where the similarity functions would run again."""
    inf = Linker(records, _model()).inference
    left, right = records.where("unique_id < 60"), records.where("unique_id >= 60")
    for df in (
        inf.predict_between(left, right, threshold_match_probability=0.5),
        inf.predict_chunk((0, 2), (1, 2), threshold_match_weight=1.0),
    ):
        lines = _join_lines(df)
        assert lines
        for line in lines:
            low = line.lower()
            assert "jaro" not in low and "case when" not in low, line[:300]
