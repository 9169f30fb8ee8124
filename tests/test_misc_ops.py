"""misc namespace (query_sql, converters), score_missing_cluster_edges,
evaluation namespace completion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on
from splink_spark.internals.misc import (
    match_weight_to_prob,
    prob_to_match_weight,
    threshold_args_to_match_weight,
)


def _set(comp, mus):
    for lv in comp.comparison_levels:
        if not lv.is_null_level:
            lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
    return comp


@pytest.fixture(scope="module")
def trained2(spark, persons):
    settings = SettingsCreator(
        comparisons=[
            _set(cl.ExactMatch("surname"), {1: (0.9, 0.02), 0: (0.1, 0.98)}),
            _set(cl.ExactMatch("dob"), {1: (0.85, 0.01), 0: (0.15, 0.99)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )
    return Linker(persons, settings)


def test_converters_round_trip():
    for p in [0.01, 0.5, 0.99]:
        assert match_weight_to_prob(prob_to_match_weight(p)) == pytest.approx(p)
    assert threshold_args_to_match_weight(0.5, None) == pytest.approx(0.0)
    with pytest.raises(ValueError):
        threshold_args_to_match_weight(0.5, 1.0)


def test_query_sql_escape_hatch(spark, trained2):
    out = trained2.misc.query_sql(
        "SELECT count(*) AS n FROM __splink__df_concat WHERE surname = 'taylor'"
    ).collect()
    assert out[0]["n"] == 2


def test_score_missing_cluster_edges(spark, trained2):
    df_predict = trained2.inference.predict()
    clusters = trained2.clustering.cluster_pairwise_predictions_at_threshold(df_predict, 0.5)
    missing = trained2.inference.score_missing_cluster_edges(clusters, df_predict)
    rows = missing.collect()
    # records 0,1,2 cluster together via dob but (0,2)-style pairs across
    # different blocking keys may be unscored; all returned pairs must carry
    # scores and must not duplicate existing predict pairs
    existing = {(r["unique_id_l"], r["unique_id_r"]) for r in df_predict.collect()}
    got = {(r["unique_id_l"], r["unique_id_r"]) for r in rows}
    assert not (existing & got)
    for r in rows:
        assert r["match_probability"] is not None


def test_prediction_errors_and_unlinkables(spark, trained2):
    df_predict = trained2.inference.predict()
    errors = trained2.evaluation.prediction_errors_from_labels_column(
        "cluster", df_predict, threshold_match_probability=0.5
    )
    # every error row is either FP (pred & !truth) or FN (!pred & truth)
    for r in errors.collect():
        truth = r["cluster_l"] == r["cluster_r"]
        pred = r["match_probability"] >= 0.5
        assert truth != pred
    unl = trained2.evaluation.unlinkables_table().collect()
    assert sum(r["count"] for r in unl) == 12  # one self-link per record


def test_invalidate_cache(spark, trained2):
    trained2.df_concat_with_tf()
    trained2.misc.invalidate_cache()
    assert trained2._concat_with_tf is None
    # still works after invalidation
    assert trained2.inference.predict().count() > 0


def test_invalidate_cache_keeps_another_linkers_equal_cache(spark, persons):
    """Spark's CacheManager keys a cache by canonical plan, so two linkers
    over one input share one cached ``df_concat``: one linker's
    ``invalidate_cache`` leaves it cached for the other, and the last
    holder's releases it."""
    from pyspark import StorageLevel

    records = persons.select("*", F.lit("shared cache probe").alias("probe"))

    def linker():
        return Linker(records, SettingsCreator(
            comparisons=[cl.ExactMatch("surname")],
            blocking_rules_to_generate_predictions=[block_on("dob")],
        ))

    a, b = linker(), linker()
    frame_a = a.df_concat_with_tf()
    b.df_concat_with_tf().count()
    assert frame_a.storageLevel != StorageLevel.NONE
    b.misc.invalidate_cache()
    assert frame_a.storageLevel != StorageLevel.NONE
    a.misc.invalidate_cache()
    assert frame_a.storageLevel == StorageLevel.NONE


def test_unpersist_all_names_what_it_could_not_release(spark, persons, caplog):
    """A frame or table the policy fails to release is named in a warning on
    the splink_spark logger, not skipped silently."""
    import logging

    from pyspark.sql import DataFrame

    from splink_spark.internals.materialize import MaterializationPolicy

    class _LostCatalog:
        def sql(self, _query):
            raise RuntimeError("catalog gone")

    def _lost_executor(*_args):
        raise RuntimeError("executor gone")

    policy = MaterializationPolicy()
    frame = policy.materialize(persons.select("unique_id"), "probe_stage", eager=False)
    frame.unpersist = _lost_executor
    policy._bucketed_tables.append((_LostCatalog(), "splink_bucketed_probe"))
    with caplog.at_level(logging.WARNING, logger="splink_spark"):
        policy.unpersist_all()
    DataFrame.unpersist(frame)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("'probe_stage'" in m and "executor gone" in m for m in msgs), msgs
    assert any("splink_bucketed_probe" in m and "catalog gone" in m for m in msgs), msgs
    assert not policy._registry and not policy._bucketed_tables


def test_dataset_catalog_offline_fallback(spark, tmp_path):
    """splink_datasets equivalent (SURVEY §2.1): with no cache and no
    network, each dataset resolves to a deterministic synthetic stand-in
    with the documented schema; a cached file takes precedence."""
    from splink_spark.datasets import (
        DATASETS,
        SplinkDatasets,
        list_downloadable_datasets,
    )

    assert "fake_1000" in list_downloadable_datasets()
    cat = SplinkDatasets(spark, cache_dir=str(tmp_path / "nope"))
    # force offline: point the downloader at nothing
    cat._try_download = lambda meta, local: None
    df = cat.fake_1000
    assert df.columns == list(DATASETS["fake_1000"].columns)
    assert df.count() > 200
    # deterministic: second catalog generates identical data
    cat2 = SplinkDatasets(spark, cache_dir=str(tmp_path / "nope2"))
    cat2._try_download = lambda meta, local: None
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, cat2.fake_1000.collect()))
    # cached file wins over synthesis
    cache3 = tmp_path / "c3"
    cache3.mkdir()
    (cache3 / "fake_1000.csv").write_text(
        "unique_id,first_name,surname,dob,city,email,cluster\n"
        "0,a,b,2000-01-01,x,e@x,0\n"
    )
    cat3 = SplinkDatasets(spark, cache_dir=str(cache3))
    assert cat3.fake_1000.count() == 1
    # the synthetic fixture is linkable end-to-end
    from splink_spark import Linker, SettingsCreator, block_on
    import splink_spark.internals.comparison_library as cl

    def _set(comp, mus):
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
        return comp

    settings = SettingsCreator(
        comparisons=[_set(cl.ExactMatch("surname"), {1: (0.9, 0.05), 0: (0.1, 0.95)})],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.01,
    )
    assert Linker(df, settings).inference.predict().count() > 0


def test_custom_rule_equality_column_parsing():
    """CustomRule populates .columns (EM deactivation / blocking adjustment)
    for pure-equality SQL, in either column convention."""
    from splink_spark.internals.blocking import CustomRule

    assert CustomRule("first_name_l = first_name_r").columns == ["first_name"]
    assert CustomRule(
        "surname_l = surname_r AND dob_l = dob_r"
    ).columns == ["surname", "dob"]
    assert CustomRule("l.city = r.city").columns == ["city"]
    # null-safe equality joins the NULL block too — the estimator and EM
    # adjustment cannot model that, so it must NOT claim columns
    assert CustomRule("`email`_l <=> `email`_r").columns == []
    # non-equality or cross-column conditions must NOT claim columns
    assert CustomRule("levenshtein(first_name_l, first_name_r) <= 1").columns == []
    assert CustomRule("first_name_l = surname_r").columns == []
    assert CustomRule("first_name_l = first_name_r OR dob_l = dob_r").columns == []
    # pure equality rules also gain pre-filter estimator keys
    assert [
        ce.name for ce in CustomRule("surname_l = surname_r").key_expressions
    ] == ["surname"]


def test_normalise_rule_sql_preserves_quoted_literals():
    from splink_spark.internals.settings import _normalise_rule_sql

    # reference alias convention is rewritten...
    assert (
        _normalise_rule_sql("l.first_name = r.first_name")
        == "first_name_l = first_name_r"
    )
    # ...but not inside single-quoted literals
    assert (
        _normalise_rule_sql("l.email = r.email AND l.domain = 'l.com'")
        == "email_l = email_r AND domain_l = 'l.com'"
    )
    # double-quoted identifiers become backticks only in alias-convention SQL
    assert (
        _normalise_rule_sql('l.city = r.city AND "Postcode_l" = "Postcode_r"')
        == "city_l = city_r AND `Postcode_l` = `Postcode_r`"
    )
    # SQL already in this engine's convention passes through verbatim,
    # including double-quoted Spark string literals
    sql = 'first_name_l = first_name_r AND city_l = "London"'
    assert _normalise_rule_sql(sql) == sql
    # backslash-escaped quotes must not desynchronize the literal spans
    assert (
        _normalise_rule_sql(r"l.email = r.email AND l.note = 'it\'s l.x'")
        == r"email_l = email_r AND note_l = 'it\'s l.x'"
    )


def test_custom_rule_double_quoted_suffixed_identifiers_execute(spark):
    """A rule written as '"city_l" = "city_r"' parses as an equality on city,
    so the EXECUTED SQL must also treat the double-quoted tokens as
    identifiers — Spark's parser reads double quotes as string literals, so
    a verbatim pass-through would execute a constant-false comparison of two
    strings while the rule's metadata claims an equality on city."""
    from splink_spark.internals.blocking import CustomRule

    rule = CustomRule('"city_l" = "city_r"')
    assert rule.columns == ["city"]
    left = spark.createDataFrame(
        [(1, "london"), (2, "leeds")], ["unique_id_l", "city_l"]
    )
    right = spark.createDataFrame(
        [(10, "london"), (11, "york")], ["unique_id_r", "city_r"]
    )
    pairs = left.crossJoin(right).where(rule.condition())
    assert [(r.unique_id_l, r.unique_id_r) for r in pairs.collect()] == [(1, 10)]

    compound = CustomRule('"city_l" = "city_r" AND "unique_id_l" = "unique_id_l"')
    # cross-column condition claims no columns — and with no parsed equality
    # columns the double quotes pass through as Spark string literals
    assert compound.columns == []


def test_normalise_rule_sql_backtick_aliased_identifiers():
    """l.`SUR name` (backtick-quoted aliased identifier) passes the alias
    gate, so it must be rewritten like the double-quoted form — previously it
    reached Spark unrewritten and failed with an unresolved 'l' alias."""
    from splink_spark.internals.settings import _normalise_rule_sql

    assert (
        _normalise_rule_sql("l.`SUR name` = r.`SUR name`")
        == "`SUR name_l` = `SUR name_r`"
    )
    assert (
        _normalise_rule_sql("l.city = r.city AND l.`post code` = r.`post code`")
        == "city_l = city_r AND `post code_l` = `post code_r`"
    )


def test_worker_memo_distinct_callables_same_name():
    """Two distinct callables sharing __name__ must not share cached values."""
    import pandas as pd

    from splink_spark.internals.functions import _apply2, _worker_memo

    def make(k):
        def kernel(a, b):
            return float(k)

        kernel.__name__ = "kernel"
        return kernel

    k1, k2 = make(1.0), make(2.0)
    assert _worker_memo(k1) is not _worker_memo(k2)
    s = pd.Series(["x"]), pd.Series(["y"])
    assert _apply2(s[0], s[1], k1).iloc[0] == 1.0
    assert _apply2(s[0], s[1], k2).iloc[0] == 2.0


def test_table_management_namespace(spark, persons, tmp_path):
    settings = SettingsCreator(
        comparisons=[
            _set(cl.ExactMatch("surname", term_frequency_adjustments=True),
                 {1: (0.9, 0.02), 0: (0.1, 0.98)}),
            _set(cl.ExactMatch("dob"), {1: (0.85, 0.01), 0: (0.15, 0.99)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )
    linker = Linker(persons, settings)
    tm = linker.table_management

    # compute_tf_table returns (col, tf_col) summing to 1 over rows weighted
    tf = tm.compute_tf_table("surname")
    assert set(tf.columns) == {"surname", "tf_surname"}
    assert tf.count() > 0

    # register a custom TF lookup: a constant overrides the computed one
    base = linker.inference.predict().collect()
    const = tf.select("surname", F.lit(0.5).alias("tf_surname"))
    tm.register_term_frequency_lookup(const, "surname")
    with_override = linker.inference.predict().collect()
    tf_l = {r["unique_id_l"]: r for r in with_override}
    assert any(r["tf_surname_l"] == 0.5 for r in with_override)

    # register_table + query_sql
    tm.register_table(persons.select("unique_id", "surname"), "my_table")
    n = linker.misc.query_sql("select count(*) as n from my_table").collect()[0]["n"]
    assert n == persons.count()

    # register_table_predict: saved scores drive clustering w/o re-scoring
    linker2 = Linker(persons, settings)
    pred_path = str(tmp_path / "pred.parquet")
    narrow = getattr(linker.inference.predict(), "_splink_narrow")
    narrow.write.mode("overwrite").parquet(pred_path)
    restored = linker2.table_management.register_table_predict(
        spark.read.parquet(pred_path)
    )
    clustered = linker2.clustering.cluster_pairwise_predictions_at_threshold(
        restored, 0.9
    )
    assert clustered.select("cluster_id").distinct().count() > 0

    tm.delete_tables_created_by_splink_from_db()  # must not raise


def test_tf_store_names_columns_by_the_settings_prefix(spark, persons):
    """Under ``term_frequency_adjustment_column_prefix="tfx_"``, every TF
    table the store hands out (computed, or registered and projected) names
    its value column ``tfx_<col>``, and predict scores with it."""
    settings = SettingsCreator(
        comparisons=[
            _set(cl.ExactMatch("surname", term_frequency_adjustments=True),
                 {1: (0.9, 0.02), 0: (0.1, 0.98)}),
            _set(cl.ExactMatch("dob"), {1: (0.85, 0.01), 0: (0.15, 0.99)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
        term_frequency_adjustment_column_prefix="tfx_",
    )
    linker = Linker(persons, settings)
    tm = linker.table_management
    assert tm.compute_tf_table("first_name").columns == ["first_name", "tfx_first_name"]
    assert linker.tf_tables()["surname"].columns == ["surname", "tfx_surname"]

    tm.register_term_frequency_lookup(
        spark.createDataFrame([("taylor", 0.5, "extra")],
                              ["surname", "tfx_surname", "note"]),
        "surname",
    )
    assert linker.tf_tables()["surname"].columns == ["surname", "tfx_surname"]
    rows = linker.inference.predict().collect()
    assert {r["tfx_surname_l"] for r in rows if r["surname_l"] == "taylor"} == {0.5}
    with pytest.raises(ValueError, match="tfx_surname"):
        tm.register_term_frequency_lookup(
            spark.createDataFrame([("taylor", 0.5)], ["surname", "tf_surname"]),
            "surname",
        )


def test_labels_table_evaluation(spark, persons, trained2):
    """accuracy_analysis / prediction_errors judged against a clerical
    pairwise labels table — every labelled pair scored, found-by-blocking
    or not."""
    labels = spark.createDataFrame(
        [
            (0, 1, 1.0),    # true match (same surname+dob in fixture)
            (0, 6, 0.0),    # true non-match
            (2, 0, 1.0),    # reversed ids — orientation must normalise
        ],
        "unique_id_l long, unique_id_r long, clerical_match_score double",
    )
    ts = trained2.evaluation.accuracy_analysis_from_labels_table(
        labels, output_type="table"
    ).collect()
    assert len(ts) >= 1
    total_pairs = ts[0]["tp"] + ts[0]["fp"] + ts[0]["fn"] + ts[0]["tn"]
    assert total_pairs == 3

    errs = trained2.evaluation.prediction_errors_from_labels_table(
        labels, threshold_match_probability=0.5
    ).collect()
    err_pairs = {(r["unique_id_l"], r["unique_id_r"]) for r in errs}
    # pair (0,6) shares dob but not surname in the persons fixture: whether
    # it is an FP depends on the model; the labelled match (0,1) must NOT be
    # an error under the strong trained model
    assert (0, 1) not in err_pairs

    # invalid flag combination rejected before any work
    with pytest.raises(ValueError):
        trained2.evaluation.prediction_errors_from_labels_table(
            labels, include_false_positives=False, include_false_negatives=False
        )


def test_register_blocked_pairs_for_predict(spark, persons):
    settings = SettingsCreator(
        comparisons=[
            _set(cl.ExactMatch("surname"), {1: (0.9, 0.02), 0: (0.1, 0.98)}),
            _set(cl.ExactMatch("dob"), {1: (0.85, 0.01), 0: (0.15, 0.99)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )
    linker = Linker(persons, settings)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 6)], "join_key_l long, join_key_r long"
    )
    linker.table_management.register_blocked_pairs_for_predict(pairs)
    scored = linker.inference.predict().collect()
    assert {(r["unique_id_l"], r["unique_id_r"]) for r in scored} == {(0, 1), (0, 6)}
    # invalidate → back to the blocking join
    linker.misc.invalidate_cache()
    assert len(linker.inference.predict().collect()) > 2

    # session-estimate chart data shape
    recs = linker.visualisations.parameter_estimate_comparisons_data()
    assert isinstance(recs, list)
