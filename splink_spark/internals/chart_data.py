"""Engine-side data behind the reference's visualisation APIs.

The reference renders Altair/Vega charts (out of engine scope per SURVEY §0);
the DATA those charts consume is engine work and is reproduced here as plain
DataFrames / record lists:

- ``comparison_vector_distribution`` — reference
  comparison_vector_distribution.py:10-30 (the comparison-viewer backbone).
- ``match_weights_histogram_data`` — reference match_weights_histogram.py
  (_bins/_hist_sql/histogram_data).
- ``tf_adjustment_chart_data`` — reference term_frequencies.py:130-260
  (per-value TF match weights with most/least-frequent ranks).
- ``waterfall_data`` — reference linker_components/visualisations.py:257
  (per-pair bayes-factor breakdown bars).
- ``match_weights_chart_data`` / ``m_u_parameters_chart_data`` — the
  per-level parameter records the model charts draw
  (splink/internals/charts.py match_weights_chart / m_u_parameters_chart).
- ``cluster_studio_sample`` — reference cluster_studio.py:157-290 (cluster
  sampling + node/edge extraction for the dashboard).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .misc import prob_to_bayes_factor, prob_to_match_weight
from .settings import Settings
from .term_frequencies import tf_column_name


def comparison_vector_distribution(
    df_predict: DataFrame, settings: Settings
) -> DataFrame:
    """Count of scored pairs per distinct gamma pattern, with the
    'sum_gam' similarity ordering (null level counts 0, mismatch -1).

    One groupBy over the predictions; the global total for
    ``proportion_of_comparisons`` comes from a window over the (tiny —
    product-of-level-counts) grouped table, not a second scan.
    """
    gamma_cols = [c.gamma_column_name for c in settings.comparisons]
    sum_gam = None
    for g in gamma_cols:
        term = (
            F.when(F.col(g) == -1, F.lit(0))
            .when(F.col(g) == 0, F.lit(-1))
            .otherwise(F.col(g))
        )
        sum_gam = term if sum_gam is None else sum_gam + term
    grouped = df_predict.groupBy(*gamma_cols).agg(
        F.count(F.lit(1)).alias("count_rows_in_comparison_vector_group")
    )
    total = F.sum("count_rows_in_comparison_vector_group").over(
        Window.partitionBy()
    )
    return grouped.select(
        F.concat_ws(",", *[F.col(g).cast("string") for g in gamma_cols]).alias(
            "gam_concat"
        ),
        sum_gam.alias("sum_gam"),
        F.col("count_rows_in_comparison_vector_group"),
        (
            F.col("count_rows_in_comparison_vector_group").cast("double") / total
        ).alias("proportion_of_comparisons"),
        *gamma_cols,
    ).orderBy("sum_gam", *gamma_cols)


# reference match_weights_histogram.py:_bins — the bin width is snapped to a
# human-friendly set so chart axes stay readable
_BIN_WIDTHS = [0.01, 0.1, 0.2, 0.25, 0.5, 1, 2, 5]


def _snap_bin_width(mn: float, mx: float, num_bins: int) -> float:
    rough = (mx - mn) / num_bins if mx > mn else _BIN_WIDTHS[0]
    return min(_BIN_WIDTHS, key=lambda w: abs(w - rough))


def match_weights_histogram_data(
    df_predict: DataFrame, num_bins: int = 100
) -> DataFrame:
    """Histogram of match_weight (reference match_weights_histogram.py):
    floor-to-bin groupBy with a snapped bin width. Two jobs: a min/max
    aggregate, then the binned count."""
    row = df_predict.agg(
        F.min("match_weight").alias("mn"), F.max("match_weight").alias("mx")
    ).collect()[0]
    mn, mx = row["mn"], row["mx"]
    if mn is None:
        spark = df_predict.sparkSession
        return spark.createDataFrame(
            [],
            "splink_score_bin_low double, binwidth double, "
            "count_rows bigint, splink_score_bin_high double",
        )
    width = _snap_bin_width(float(mn), float(mx), num_bins)
    bin_low = F.lit(width) * F.floor(F.col("match_weight") / F.lit(width))
    return (
        df_predict.groupBy(bin_low.alias("splink_score_bin_low"))
        .agg(F.count(F.lit(1)).alias("count_rows"))
        .select(
            F.col("splink_score_bin_low").cast("double"),
            F.lit(float(width)).alias("binwidth"),
            "count_rows",
            (F.col("splink_score_bin_low") + F.lit(float(width)))
            .cast("double")
            .alias("splink_score_bin_high"),
        )
        .orderBy("splink_score_bin_low")
    )


def tf_adjustment_chart_data(
    linker,
    output_column_name: str,
    n_most_freq: Optional[int] = 10,
    n_least_freq: Optional[int] = 10,
    vals_to_include: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-value TF-adjusted match weights for every TF level of a comparison
    (reference term_frequencies.py:130-260): value, tf, the exact-match u the
    adjustment normalises against, log2_bf_tf (predict's TF term,
    ``Comparison.log2_tf_adjustment``, for two records sharing the value),
    log2_bf of the level, their sum, and most/least-frequent ranks. Filtered
    to the requested ranks plus any explicitly requested values.
    """
    s = linker.settings
    comparison = None
    for comp in s.comparisons:
        if comp.output_column_name == output_column_name:
            comparison = comp
            break
    if comparison is None:
        raise ValueError(f"no comparison with output_column_name {output_column_name!r}")
    tf_levels = [
        lv
        for lv in comparison.comparison_levels
        if lv.has_tf_adjustment and lv.has_probabilities
    ]
    if not tf_levels:
        raise ValueError(
            f"comparison {output_column_name!r} has no term frequency "
            "adjustment (or its m/u are not set)"
        )
    parts = []
    for lv in tf_levels:
        col = lv.tf_adjustment_column
        tf_table = linker._tf_table(col)  # columns: <col>, <prefix><col>
        tf = F.col(tf_column_name(s, col))
        u_prob = float(comparison._u_probability_for_exact_match(lv))
        weight = float(lv.tf_adjustment_weight)
        log2_bf = lv.log2_bayes_factor
        # predict's TF term for a pair whose two records share this value
        log2_bf_tf = comparison.log2_tf_adjustment(lv, tf, tf)
        part = tf_table.where(F.col(col).isNotNull()).select(
            F.col(col).cast("string").alias("value"),
            tf.alias("tf"),
            F.lit(u_prob).alias("u_probability"),
            F.lit(weight).alias("tf_adjustment_weight"),
            log2_bf_tf.alias("log2_bf_tf"),
            F.lit(lv.comparison_vector_value).alias("gamma"),
            F.lit(col).alias("tf_col"),
            F.lit(float(log2_bf)).alias("log2_bf"),
            (log2_bf_tf + F.lit(float(log2_bf))).alias("log2_bf_final"),
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w_most = Window.partitionBy("gamma").orderBy(F.col("log2_bf_tf").asc())
    w_least = Window.partitionBy("gamma").orderBy(F.col("log2_bf_tf").desc())
    out = out.withColumn("most_freq_rank", F.row_number().over(w_most)).withColumn(
        "least_freq_rank", F.row_number().over(w_least)
    )
    if n_most_freq is None or n_least_freq is None:
        return out
    keep = (F.col("most_freq_rank") <= n_most_freq) | (
        F.col("least_freq_rank") <= n_least_freq
    )
    if vals_to_include:
        keep = keep | F.col("value").isin([str(v) for v in vals_to_include])
    return out.where(keep)


def match_weights_chart_data(settings: Settings) -> list[dict]:
    """Per-level parameter records the model charts draw (reference
    charts.py match_weights_chart input): one record per non-null level with
    m, u, bayes factor and log2 bayes factor, plus the prior row."""
    lam = settings.probability_two_random_records_match
    records: list[dict] = [
        {
            "comparison_name": "probability_two_random_records_match",
            "label_for_charts": "Prior",
            "comparison_vector_value": None,
            "m_probability": None,
            "u_probability": None,
            "bayes_factor": prob_to_bayes_factor(lam),
            "log2_bayes_factor": prob_to_match_weight(lam),
        }
    ]
    for comp in settings.comparisons:
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            rec = {
                "comparison_name": comp.output_column_name,
                "label_for_charts": lv.label_for_charts,
                "comparison_vector_value": lv.comparison_vector_value,
                "m_probability": lv.m_probability,
                "u_probability": lv.u_probability,
            }
            if lv.has_probabilities:
                rec["bayes_factor"] = lv.bayes_factor
                rec["log2_bayes_factor"] = lv.log2_bayes_factor
            else:
                rec["bayes_factor"] = None
                rec["log2_bayes_factor"] = None
            records.append(rec)
    return records


def m_u_parameters_chart_data(settings: Settings) -> list[dict]:
    """m/u records per level, long format (reference m_u_parameters_chart)."""
    out: list[dict] = []
    for rec in match_weights_chart_data(settings):
        if rec["comparison_name"] == "probability_two_random_records_match":
            continue
        for kind in ("m_probability", "u_probability"):
            out.append(
                {
                    "comparison_name": rec["comparison_name"],
                    "label_for_charts": rec["label_for_charts"],
                    "comparison_vector_value": rec["comparison_vector_value"],
                    "probability_type": kind,
                    "probability": rec[kind],
                }
            )
    return out


def waterfall_data(settings: Settings, scored_records: Sequence[dict]) -> list[dict]:
    """Bayes-factor breakdown bars for scored pairs (reference
    records_to_waterfall_data, charts.py waterfall_chart): for each record —
    a prior bar, one bar per comparison (log2 bf of the observed gamma
    level), a TF bar where the level carries a term-frequency adjustment,
    and a final bar. ``scored_records`` are collected predict() rows as
    dicts (they contain gamma_* and tf_* columns)."""
    prior_l2 = prob_to_match_weight(settings.probability_two_random_records_match)
    out: list[dict] = []
    for ri, rec in enumerate(scored_records):
        bar_sort = 0
        out.append(
            {
                "record_number": ri,
                "column_name": "Prior",
                "label_for_charts": "Starting match weight (prior)",
                "comparison_vector_value": None,
                "log2_bayes_factor": prior_l2,
                "bayes_factor": 2.0**prior_l2,
                "bar_sort_order": bar_sort,
            }
        )
        total = prior_l2
        for comp in settings.comparisons:
            bar_sort += 1
            gamma = rec.get(comp.gamma_column_name)
            if gamma is None or gamma == -1:
                l2 = 0.0
                label = "Null"
                lv = None
            else:
                lv = comp.level_for_gamma(int(gamma))
                l2 = lv.log2_bayes_factor
                label = lv.label_for_charts
            out.append(
                {
                    "record_number": ri,
                    "column_name": comp.output_column_name,
                    "label_for_charts": label,
                    "comparison_vector_value": None if gamma is None else int(gamma),
                    "log2_bayes_factor": l2,
                    "bayes_factor": 2.0**l2,
                    "bar_sort_order": bar_sort,
                }
            )
            total += l2
            if lv is not None and lv.has_tf_adjustment:
                col = lv.tf_adjustment_column
                tf_l = rec.get(f"{comp.tf_prefix}{col}_l")
                tf_r = rec.get(f"{comp.tf_prefix}{col}_r")
                tf_val = None
                if tf_l is not None or tf_r is not None:
                    cand = [v for v in (tf_l, tf_r) if v is not None]
                    tf_val = max(max(cand), float(lv.tf_minimum_u_value))
                if tf_val is not None and tf_val > 0 and lv.has_probabilities:
                    u_ex = comp._u_probability_for_exact_match(lv)
                    l2_tf = (
                        math.log2(max(u_ex, 1e-300) / tf_val)
                        * float(lv.tf_adjustment_weight)
                    )
                    bar_sort += 1
                    out.append(
                        {
                            "record_number": ri,
                            "column_name": f"tf_{col}",
                            "label_for_charts": f"Term frequency adjustment on {col}",
                            "comparison_vector_value": int(gamma),
                            "log2_bayes_factor": l2_tf,
                            "bayes_factor": 2.0**l2_tf,
                            "bar_sort_order": bar_sort,
                        }
                    )
                    total += l2_tf
        bar_sort += 1
        out.append(
            {
                "record_number": ri,
                "column_name": "Final score",
                "label_for_charts": "Final match weight",
                "comparison_vector_value": None,
                "log2_bayes_factor": total,
                "bayes_factor": 2.0**total,
                "bar_sort_order": bar_sort,
            }
        )
    return out


def cluster_studio_sample(
    df_clustered: DataFrame,
    df_predict: DataFrame,
    settings: Settings,
    sampling_method: str = "random",
    sample_size: int = 10,
    cluster_ids: Optional[Sequence] = None,
    threshold_match_probability: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) for a sample of clusters — the data the reference's
    cluster studio dashboard embeds (cluster_studio.py:26-290).

    sampling_method: 'random' (deterministic hash order), 'by_cluster_size'
    (one cluster per distinct size, largest first), or an explicit
    ``cluster_ids`` list.
    """
    uid = settings.unique_id_column_name
    if cluster_ids is None:
        sizes = df_clustered.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        if sampling_method == "by_cluster_size":
            w = Window.partitionBy("n").orderBy(
                F.xxhash64(F.col("cluster_id").cast("string"))
            )
            picked = (
                sizes.where(F.col("n") > 1)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .orderBy(F.desc("n"))
                .limit(sample_size)
            )
        elif sampling_method == "random":
            picked = (
                sizes.where(F.col("n") > 1)
                .orderBy(F.xxhash64(F.col("cluster_id").cast("string")))
                .limit(sample_size)
            )
        else:
            raise ValueError(f"unknown sampling_method {sampling_method!r}")
        cluster_ids = [r["cluster_id"] for r in picked.select("cluster_id").collect()]
    nodes = df_clustered.where(F.col("cluster_id").isin(list(cluster_ids)))
    members = nodes.select(F.col(uid).alias("__member_id"), "cluster_id")
    # deterministic-link predictions carry no score column — keep every edge
    # (reference cluster_studio.py handles the same case)
    if "match_probability" in df_predict.columns:
        df_predict = df_predict.where(
            F.col("match_probability") >= threshold_match_probability
        )
    edges = (
        df_predict
        .join(
            F.broadcast(members.withColumnRenamed("__member_id", "__edge_l")),
            F.col(f"{uid}_l") == F.col("__edge_l"),
        )
        .drop("__edge_l")
    )
    return nodes, edges
