"""Standalone realtime facade + asymmetric predict chunking.

Reference: splink/internals/realtime.py:17-159 (compare_records without a
Linker, per-settings cache) and inference.py:294-444 (num_chunks_l/_r).
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from splink_spark import Linker, SettingsCreator, block_on, realtime
import splink_spark.internals.comparison_library as cl


@pytest.fixture(scope="module")
def rt_settings():
    mu = {
        "first_name": {3: (0.7, 0.001), 2: (0.2, 0.01), 1: (0.06, 0.05), 0: (0.04, 0.939)},
        "city": {1: (0.9, 0.2), 0: (0.1, 0.8)},
    }
    comps = [
        cl.LevenshteinAtThresholds("first_name", [1, 2]),
        cl.ExactMatch("city", term_frequency_adjustments=True),
    ]
    for comp in comps:
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            m, u = mu[comp.output_column_name][lv.comparison_vector_value]
            lv.m_probability, lv.u_probability = m, u
    return SettingsCreator(
        link_type="dedupe_only",
        comparisons=comps,
        blocking_rules_to_generate_predictions=[block_on("city")],
        probability_two_random_records_match=0.01,
    )


@pytest.fixture(scope="module")
def rt_records(spark):
    rows = [
        (i, name, city)
        for i, (name, city) in enumerate(
            [
                ("julia", "london"), ("julia ", "london"), ("oliver", "leeds"),
                ("olivre", "leeds"), ("amara", "leeds"), ("amara", "hull"),
                ("tomas", "york"), ("tamas", "york"),
            ]
        )
    ]
    return spark.createDataFrame(rows, ["unique_id", "first_name", "city"])


def test_compare_records_matches_linker(spark, rt_settings, rt_records):
    """Facade scores == linker.inference.compare_two_records when the records
    carry the tf values the linker would have joined on."""
    linker = Linker(rt_records, rt_settings)
    tf_city = {
        r["city"]: r["tf_city"] for r in linker.tf_tables()["city"].collect()
    }
    r1 = {"unique_id": 0, "first_name": "julia", "city": "london",
          "tf_city": tf_city["london"]}
    r2 = {"unique_id": 1, "first_name": "julia ", "city": "london",
          "tf_city": tf_city["london"]}

    via_linker = linker.inference.compare_two_records(
        {k: v for k, v in r1.items() if not k.startswith("tf_")},
        {k: v for k, v in r2.items() if not k.startswith("tf_")},
    ).select("match_weight", "match_probability").collect()[0]

    via_facade = realtime.compare_records(
        r1, r2, rt_settings, spark=spark, sql_cache_key="rt-test"
    ).select("match_weight", "match_probability").collect()[0]

    assert via_facade["match_weight"] == pytest.approx(
        via_linker["match_weight"], abs=1e-12
    )
    assert via_facade["match_probability"] == pytest.approx(
        via_linker["match_probability"], abs=1e-12
    )
    # the parsed settings are cached under the key (reference SQLCache)
    assert "rt-test" in realtime._settings_cache
    again = realtime.compare_records(
        r1, r2, rt_settings, spark=spark, sql_cache_key="rt-test"
    ).select("match_weight").collect()[0]
    assert again["match_weight"] == via_facade["match_weight"]


def test_compare_records_tables_and_join_condition(spark, rt_settings, rt_records):
    """Multi-record inputs cross-join under join_condition (tables l and r)."""
    left = rt_records.where(F.col("unique_id") < 4)
    right = rt_records.where(F.col("unique_id") >= 4)
    out = realtime.compare_records(
        left, right, rt_settings, spark=spark,
        join_condition="l.city = r.city",
        include_found_by_blocking_rules=True,
    )
    rows = out.collect()
    # only leeds crosses the split (2,3 on the left; 4 on the right)
    assert {(r["unique_id_l"], r["unique_id_r"]) for r in rows} == {(2, 4), (3, 4)}
    # blocked on city and the join matched city → always found
    assert all(r["found_by_blocking_rules"] for r in rows)


def test_compare_records_missing_column_scores_null_level(spark, rt_settings):
    out = realtime.compare_records(
        {"unique_id": 0, "first_name": "ada", "city": "hull"},
        {"unique_id": 1, "first_name": "ada"},  # no city key
        rt_settings,
        spark=spark,
    ).collect()[0]
    assert out["gamma_city"] == -1  # null level
    assert out["gamma_first_name"] == 3  # exact


def test_predict_asymmetric_chunking_equals_unchunked(spark, rt_records, rt_settings):
    linker = Linker(rt_records, rt_settings)
    base = {
        (r["unique_id_l"], r["unique_id_r"], round(r["match_weight"], 9))
        for r in linker.inference.predict()
        .select("unique_id_l", "unique_id_r", "match_weight")
        .collect()
    }
    linker2 = Linker(rt_records, rt_settings)
    chunked = {
        (r["unique_id_l"], r["unique_id_r"], round(r["match_weight"], 9))
        for r in linker2.inference.predict(num_chunks_l=2, num_chunks_r=3)
        .select("unique_id_l", "unique_id_r", "match_weight")
        .collect()
    }
    assert chunked == base
    with pytest.raises(ValueError):
        linker2.inference.predict(num_chunks_l=0)


def test_compare_records_all_none_and_missing_model_columns(spark, rt_settings):
    """A key that is None in every record (schema inference would fail) and a
    model column absent from both records must both score as null levels."""
    out = realtime.compare_records(
        {"unique_id": 0, "first_name": "ada", "city": None},
        {"unique_id": 1, "first_name": "ada", "city": None},
        rt_settings,
        spark=spark,
    ).collect()[0]
    assert out["gamma_city"] == -1 and out["gamma_first_name"] == 3

    out2 = realtime.compare_records(
        {"unique_id": 0, "first_name": "ada"},
        {"unique_id": 1, "first_name": "ada"},
        rt_settings,
        spark=spark,
    ).collect()[0]
    assert out2["gamma_city"] == -1


def _tfx_settings(rt_settings):
    """``rt_settings`` (a TF-adjusted city comparison) under the TF column
    prefix ``tfx_``."""
    d = rt_settings.as_dict()
    d["term_frequency_adjustment_column_prefix"] = "tfx_"
    return d


def test_compare_records_reads_tf_values_under_the_settings_prefix(
    spark, rt_settings, rt_records
):
    """Record TF values are keyed ``<prefix><col>``, as the linker's TF store
    names them, and score exactly as ``compare_two_records`` does."""
    settings = _tfx_settings(rt_settings)
    linker = Linker(rt_records, settings)
    tf_city = {r["city"]: r["tfx_city"] for r in linker.tf_tables()["city"].collect()}
    r1 = {"unique_id": 0, "first_name": "julia", "city": "london"}
    r2 = {"unique_id": 1, "first_name": "julia ", "city": "london"}
    via_linker = linker.inference.compare_two_records(r1, r2).collect()[0]
    via_facade = realtime.compare_records(
        r1 | {"tfx_city": tf_city["london"]},
        r2 | {"tfx_city": tf_city["london"]},
        settings,
        spark=spark,
    ).collect()[0]
    assert via_facade["tfx_city_l"] == tf_city["london"]
    assert via_facade["match_weight"] == pytest.approx(
        via_linker["match_weight"], abs=1e-12
    )
    # without TF values the pair scores with no adjustment
    plain = realtime.compare_records(r1, r2, settings, spark=spark).collect()[0]
    assert plain["tfx_city_l"] is None
    assert plain["match_weight"] != pytest.approx(via_linker["match_weight"])


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _jobs(spark, action) -> int:
    """Spark jobs ``action()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_realtime_requests_reuse_the_tf_store_and_release_it(spark, rt_settings):
    """Requests read the linker's persisted TF store instead of rebuilding
    TF tables: after the first request they persist nothing new, a
    repeated ``compare_two_records`` runs at most 4 jobs (7 here when each
    request re-aggregated its TF table), and ``invalidate_cache`` returns
    the persisted RDDs to what they were before the linker existed."""
    rows = [(i, f"n{i % 7}", f"c{i % 5}") for i in range(60)]
    records = spark.createDataFrame(rows, ["unique_id", "first_name", "city"])
    # compare ids, not sizes: the context cleaner may release other tests'
    # caches while this one runs
    baseline = _persisted(spark)
    linker = Linker(records, rt_settings)
    new = spark.createDataFrame(
        [(1000, "n1", "c1"), (1001, "n2", "c3")], records.schema
    )
    r1 = {"unique_id": 2000, "first_name": "n3", "city": "c3"}
    r2 = {"unique_id": 2001, "first_name": "n3", "city": "c3"}

    found = linker.inference.find_matches_to_new_records(new).collect()
    assert found
    served = _persisted(spark)
    weights = set()
    for _ in range(3):
        jobs = _jobs(
            spark,
            lambda: weights.add(
                linker.inference.compare_two_records(r1, r2).collect()[0]["match_weight"]
            ),
        )
        assert jobs <= 4
    assert len(weights) == 1
    assert _persisted(spark) - served == set()

    linker.misc.invalidate_cache()
    assert _persisted(spark) - baseline == set()


def test_compare_two_records_scores_one_pair_when_uids_are_equal(spark):
    """Two records under the same unique id are still one pair: each record
    is its own side, so neither is compared with itself, and the pair
    scores as it does under distinct ids."""
    comps = [
        cl.ExactMatch("first_name"),
        cl.ExactMatch("city", term_frequency_adjustments=True),
    ]
    for comp in comps:
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                lv.m_probability, lv.u_probability = (
                    (0.9, 0.1) if lv.comparison_vector_value == 1 else (0.1, 0.9)
                )
    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=comps,
        blocking_rules_to_generate_predictions=[block_on("city")],
        probability_two_random_records_match=0.1,
    )
    records = spark.createDataFrame(
        [(1, "ann", "x"), (2, "bob", "x"), (3, "cy", "y")],
        ["unique_id", "first_name", "city"],
    )
    linker = Linker(records, settings)
    ann = {"unique_id": 7, "first_name": "ann", "city": "x"}
    bob = {"unique_id": 7, "first_name": "bob", "city": "x"}
    rows = linker.inference.compare_two_records(ann, bob).collect()
    assert len(rows) == 1
    assert (rows[0]["first_name_l"], rows[0]["first_name_r"]) == ("ann", "bob")
    distinct = linker.inference.compare_two_records(ann, bob | {"unique_id": 8})
    assert rows[0]["match_weight"] == pytest.approx(
        distinct.collect()[0]["match_weight"], abs=1e-12
    )
