"""Top-level façade-module parity: the reference exposes
splink.blocking_analysis / clustering / exploratory / blocking_rule_library /
comparison_library / comparison_level_library / datasets as importable
modules — a reference user's imports must work verbatim (modulo db_api)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, None, "y")],
        "unique_id long, name string, city string",
    )


def test_blocking_analysis_facade(spark, small):
    import splink_spark.blocking_analysis as ba
    import splink_spark.blocking_rule_library as brl

    recs = ba.count_comparisons_from_blocking_rules(
        small,
        blocking_rules=[brl.block_on("name"), "l.city = r.city"],
        record_sample_proportion=1.0,
    )
    # name 'a' -> pair (1,2); city rule adds only (3,4) — (1,2) already blocked
    assert [r["marginal_comparison_count"] for r in recs] == [1, 1]
    assert recs[1]["cumulative_comparison_count"] == 2

    top = ba.n_largest_blocks(
        small, blocking_rule=brl.block_on("name"), n_largest=1
    ).collect()
    assert top[0]["key_0"] == "a" and top[0]["block_count"] == 4

    est = ba.estimate_comparisons_from_blocking_rule_pre_filter(
        small, blocking_rule=brl.block_on("city")
    ).collect()
    assert {r["key_0"]: r["block_count"] for r in est} == {"x": 4, "y": 4}

    # chart facade wraps the same cumulative records in a vega-lite spec
    chart = ba.chart_comparisons_from_blocking_rules(
        small,
        blocking_rules=[brl.block_on("name"), "l.city = r.city"],
        record_sample_proportion=1.0,
    )
    assert chart["data"]["values"] == recs


def test_clustering_facade(spark, small):
    from splink_spark.clustering import cluster_pairwise_predictions_at_threshold

    edges = spark.createDataFrame(
        [(1, 2, 0.95), (3, 4, 0.2)],
        "unique_id_l long, unique_id_r long, match_probability double",
    )
    got = sorted(
        (r["unique_id"], r["cluster_id"])
        for r in cluster_pairwise_predictions_at_threshold(
            small, edges, threshold_match_probability=0.5
        ).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 3), (4, 4)]

    # no threshold → every edge is a match (reference contract)
    clustered_all = cluster_pairwise_predictions_at_threshold(small, edges)
    got_all = sorted(
        (r["unique_id"], r["cluster_id"]) for r in clustered_all.collect()
    )
    assert got_all == [(1, 1), (2, 1), (3, 3), (4, 3)]

    # re-clustering a previous output at a higher threshold replaces the
    # old cluster_id instead of raising an ambiguous-column error
    re = sorted(
        (r["unique_id"], r["cluster_id"])
        for r in cluster_pairwise_predictions_at_threshold(
            clustered_all, edges, threshold_match_probability=0.5
        ).collect()
    )
    assert re == [(1, 1), (2, 1), (3, 3), (4, 4)]


def test_clustering_facade_rejects_both_thresholds(spark, small):
    """Standalone clustering takes at most one threshold, as the linker's
    does."""
    from splink_spark.clustering import cluster_pairwise_predictions_at_threshold

    edges = spark.createDataFrame(
        [(1, 2, 0.95, 4.2)],
        "unique_id_l long, unique_id_r long, match_probability double, "
        "match_weight double",
    )
    with pytest.raises(ValueError, match="Cannot provide both"):
        cluster_pairwise_predictions_at_threshold(
            small, edges, threshold_match_probability=0.5, threshold_match_weight=1.0
        )


def test_exploratory_facade(spark, small):
    import splink_spark.exploratory as ex

    comp = {
        r["column"]: r["completeness"]
        for r in ex.completeness_chart(small)["data"]["values"]
    }
    assert comp["name"] == 0.75 and comp["city"] == 1.0

    # multi-table completeness carries the table name
    two = ex.completeness_chart(
        [small, small.where("unique_id <= 2")], table_names_for_chart=["a", "b"]
    )["data"]["values"]
    assert {r["source_dataset"] for r in two} == {"a", "b"}

    prof = ex.profile_columns(small, ["name"], top_n=1)
    summary = {r["column"]: r for r in prof["summary"].collect()}
    assert summary["name"]["n_nonnull"] == 3
    assert prof["top_n"]["name"].collect()[0]["value"] == "a"


def test_library_facades_importable(spark):
    import splink_spark.blocking_rule_library as brl
    import splink_spark.comparison_level_library as cll
    import splink_spark.comparison_library as cl

    assert brl.block_on("name").description == "l.name = r.name"
    assert hasattr(cl, "ExactMatch") and hasattr(cl, "JaroWinklerAtThresholds")
    assert hasattr(cll, "ExactMatchLevel") or hasattr(cll, "NullLevel")

    from splink_spark.datasets import splink_datasets

    assert splink_datasets(spark).__class__.__name__ == "SplinkDatasets"


def test_logging_facade():
    """Reference import parity: splink/logging.py (enable/disable + custom levels)."""
    import logging as stdlog

    import splink_spark.logging as slog

    assert (slog.VERBOSE, slog.PIPELINE, slog.SQL) == (15, 7, 5)
    slog.enable("VERBOSE")
    lg = stdlog.getLogger("splink_spark")
    assert lg.handlers and lg.propagate is False
    slog.enable()  # idempotent: no second default handler
    assert len(lg.handlers) == 1
    slog.disable()
    assert not lg.handlers and lg.propagate is True


def test_top_level_splink_datasets_export(spark):
    """Reference import parity: `from splink import splink_datasets`."""
    from splink_spark import splink_datasets

    ds = splink_datasets(spark)
    assert hasattr(ds, "fake_1000")


def test_splink_dataset_labels_facade(spark, tmp_path, monkeypatch):
    """Reference import parity: `from splink.datasets import
    splink_dataset_labels`; offline the synthetic labels must join back to
    the synthetic fake_1000 on unique_id with consistent clusters."""
    import splink_spark.datasets as dsm
    from splink_spark.datasets import splink_dataset_labels, splink_datasets

    # force the offline path: no cache, downloads fail fast
    monkeypatch.setattr(
        dsm.SplinkDatasets, "_try_download", lambda self, meta, local: None
    )
    labels = splink_dataset_labels(spark, cache_dir=str(tmp_path)).fake_1000_labels
    assert labels.columns == [
        "unique_id_l", "source_dataset_l", "unique_id_r", "source_dataset_r",
        "clerical_match_score",
    ]
    rows = labels.collect()
    assert len(rows) > 0
    ds = splink_datasets(spark, cache_dir=str(tmp_path)).fake_1000
    cluster_of = {r["unique_id"]: r["cluster"] for r in ds.collect()}
    for r in rows[:50]:
        assert cluster_of[r["unique_id_l"]] == cluster_of[r["unique_id_r"]]
        assert r["unique_id_l"] < r["unique_id_r"]


def test_spark_api_register_workflow(spark, small):
    """Reference db-api workflow (database_api.py:267-303 +
    spark/database_api.py:29-58): SparkAPI coerces inputs, tags display
    names (which become source_dataset labels in link jobs), enforces unique
    table names, and maps break_lineage_method onto MaterializationPolicy."""
    import pandas as pd

    from splink_spark import Linker, SettingsCreator, SparkAPI, block_on
    import splink_spark.internals.comparison_library as cl

    api = SparkAPI(spark_session=spark, break_lineage_method="checkpoint")
    assert api.materialization_policy().method == "checkpoint"

    # input coercion: pandas, list-of-dicts, view name, passthrough
    pdf = pd.DataFrame({"unique_id": [10, 11], "name": ["a", "b"], "city": ["x", "y"]})
    d1 = api.register(pdf, dataset_display_name="left_table")
    small.createOrReplaceTempView("small_view")
    d2 = api.register("small_view", dataset_display_name="right_table")
    assert d1.count() == 2 and d2.count() == 4
    assert d1._splink_dataset_display_name == "left_table"

    with pytest.raises(ValueError, match="already been registered"):
        api.register(pdf, dataset_display_name="left_table")

    # display names become the source_dataset labels of a link job
    def _set(comp, mus):
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
        return comp

    settings = SettingsCreator(
        link_type="link_only",
        comparisons=[_set(cl.ExactMatch("name"), {1: (0.9, 0.1), 0: (0.1, 0.9)})],
        blocking_rules_to_generate_predictions=[block_on("city")],
        probability_two_random_records_match=0.1,
    )
    linker = Linker([d1, d2], settings)
    preds = linker.inference.predict().collect()
    assert preds
    sds = {(r["source_dataset_l"], r["source_dataset_r"]) for r in preds}
    assert sds == {("left_table", "right_table")}

    # list-of-dicts + register_from_csv + query_sql round out the surface
    d3 = api.register([{"unique_id": 1, "name": "z", "city": "q"}])
    assert d3.count() == 1
    assert api.query_sql("SELECT 1 AS one").collect()[0]["one"] == 1


def test_register_accepts_all_input_formats(spark):
    """reference test_dataframe_in_out_formats.py — list-of-dicts, pandas,
    and pyarrow inputs all register; outputs convert back to pandas /
    records / dicts via native Spark."""
    import pandas as pd
    import pyarrow as pa

    from splink_spark.database_api import SparkAPI

    api = SparkAPI(spark_session=spark)
    records = [
        {"unique_id": 1, "first_name": "John", "surname": "Smith"},
        {"unique_id": 2, "first_name": "Mary", "surname": "Jones"},
    ]

    from_list = api.register(records, table_name="t_list")
    from_pandas = api.register(pd.DataFrame(records), table_name="t_pandas")
    from_arrow = api.register(pa.Table.from_pylist(records), table_name="t_arrow")

    def as_sorted_dicts(df):
        return sorted(
            (r.asDict() for r in df.collect()), key=lambda d: d["unique_id"]
        )

    expected = sorted(records, key=lambda d: d["unique_id"])
    assert as_sorted_dicts(from_list) == expected
    assert as_sorted_dicts(from_pandas) == expected
    assert as_sorted_dicts(from_arrow) == expected

    # out: pandas / pyarrow round trip
    pdf = from_list.toPandas()
    assert list(pdf["first_name"]) == ["John", "Mary"]
    tbl = pa.Table.from_pandas(pdf)
    assert tbl.num_rows == 2

    # duplicate table_name rejected (reference register semantics)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.register(records, table_name="t_list")


def test_debug_mode_materializes_stage_views(spark, small, capsys):
    """Reference database_api.py:210-263 debug mode: each pipeline stage
    becomes its own inspectable table. Here: eager materialization + a
    session temp view + debug_tables entry per stage, printed step-wise."""
    import splink_spark.internals.comparison_library as cl
    from splink_spark import Linker, SettingsCreator, block_on

    def _set(comp, mus):
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
        return comp

    settings = SettingsCreator(
        link_type="dedupe_only",
        comparisons=[_set(cl.ExactMatch("name"), {1: (0.9, 0.1), 0: (0.1, 0.9)})],
        blocking_rules_to_generate_predictions=[block_on("city")],
        probability_two_random_records_match=0.1,
    )
    linker = Linker(small, settings)
    linker.debug_mode = True
    preds = linker.inference.predict().collect()
    assert preds

    expected_stages = {
        "__splink__df_concat",
        "__splink__df_concat_with_tf",
        "__splink__df_comparison_vectors",
        "__splink__df_predict",
    }
    assert expected_stages <= set(linker.debug_tables)
    # the views are queryable in the session catalog
    cv = spark.sql(
        "SELECT * FROM __splink__df_comparison_vectors"
    ).collect()
    assert len(cv) == 2  # city x: (1,2); city y: (3,4)
    out = capsys.readouterr().out
    assert "Creating table: __splink__df_predict" in out

    # off by default: a fresh linker creates no views
    linker2 = Linker(small, settings)
    assert linker2.debug_mode is False
    linker2.inference.predict().collect()
    assert linker2.debug_tables == {}
