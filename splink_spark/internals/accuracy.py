"""Evaluation: truth-space (threshold sweep) tables, prediction errors and
unlinkables.

Reference: splink/internals/accuracy.py:60-290 — group scored pairs by
truth_threshold, running-total windows for cumulative TP/FP/TN/FN, then the
derived metrics (precision, recall, specificity, F1...) at every threshold.

Labels tables are turned into pair tables by ``comparison_vectors.id_pairs``;
self-links block the records against themselves on their keys. Both are
scored by ``LinkerInference._scored``, the scorer predict uses.
"""

from __future__ import annotations

import functools
import operator
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .blocking import block_on
from .comparison_vectors import id_pairs


def truth_space_table(
    scored: DataFrame,
    score_col: str = "match_weight",
    label_col: str = "clerical_match",
) -> DataFrame:
    """One row per distinct score threshold with cumulative confusion counts.

    A pair predicts positive at threshold t iff score >= t. Sweeping from the
    highest threshold down, TP/FP accumulate via running-sum windows — one
    shuffle on the (small) distinct-threshold table.
    """
    per_threshold = (
        scored.select(
            F.col(score_col).alias("truth_threshold"),
            F.col(label_col).cast("int").alias("is_match"),
        )
        .groupBy("truth_threshold")
        .agg(
            F.sum("is_match").alias("n_pos"),
            F.sum(F.lit(1) - F.col("is_match")).alias("n_neg"),
        )
    )
    total_pos = F.sum("n_pos").over(Window.partitionBy())
    total_neg = F.sum("n_neg").over(Window.partitionBy())
    w_desc = (
        Window.orderBy(F.desc("truth_threshold"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = per_threshold.select(
        "truth_threshold",
        F.sum("n_pos").over(w_desc).alias("tp"),
        F.sum("n_neg").over(w_desc).alias("fp"),
        (total_pos - F.sum("n_pos").over(w_desc)).alias("fn"),
        (total_neg - F.sum("n_neg").over(w_desc)).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    d = lambda x: x.cast("double")  # noqa: E731
    precision = F.when(tp + fp > 0, d(tp) / d(tp + fp))
    recall = F.when(tp + fn > 0, d(tp) / d(tp + fn))
    specificity = F.when(tn + fp > 0, d(tn) / d(tn + fp))
    f1 = F.when(2 * tp + fp + fn > 0, d(2 * tp) / d(2 * tp + fp + fn))
    accuracy = (d(tp) + d(tn)) / (d(tp) + d(tn) + d(fp) + d(fn))
    return out.select(
        "truth_threshold",
        "tp", "fp", "fn", "tn",
        precision.alias("precision"),
        recall.alias("recall"),
        specificity.alias("specificity"),
        f1.alias("f1"),
        accuracy.alias("accuracy"),
    ).orderBy("truth_threshold")


def _with_labels(linker, df_predict: DataFrame, labels_column: str) -> DataFrame:
    """Join the ground-truth column onto scored pairs (the junction join only
    carries comparison columns, so labels re-join here).

    Keys are (source_dataset, uid) when the job has source datasets — uids
    are only unique per dataset, so a bare-uid join would fan out and attach
    wrong labels on cross-dataset uid collisions. The label slices broadcast
    only below the same node-count ceiling the junction join uses."""
    from .comparison_vectors import BROADCAST_NODES_MAX_ROWS

    s = linker.settings
    uid = s.unique_id_column_name
    if f"{labels_column}_l" in df_predict.columns:
        return df_predict
    concat = linker.df_concat()
    sd = s.source_dataset_column_name if s.needs_source_dataset else None
    use_sd = bool(
        sd and sd in concat.columns and f"{sd}_l" in df_predict.columns
    )
    keys_l = [uid] + ([sd] if use_sd else [])
    lab_l = concat.select(
        *[F.col(k).alias(f"{k}_l") for k in keys_l],
        F.col(labels_column).alias(f"{labels_column}_l"),
    )
    lab_r = concat.select(
        *[F.col(k).alias(f"{k}_r") for k in keys_l],
        F.col(labels_column).alias(f"{labels_column}_r"),
    )
    n = getattr(concat, "_splink_row_count", None)
    if n is not None and n <= BROADCAST_NODES_MAX_ROWS:
        lab_l, lab_r = F.broadcast(lab_l), F.broadcast(lab_r)
    return df_predict.join(lab_l, on=[f"{k}_l" for k in keys_l]).join(
        lab_r, on=[f"{k}_r" for k in keys_l]
    )


def truth_space_table_from_labels_column(
    linker, labels_column: str, df_predict: Optional[DataFrame] = None
) -> DataFrame:
    """Truth from a ground-truth entity column on the input (accuracy.py:
    *_from_label_column path): a pair is a true match iff labels agree."""
    if df_predict is None:
        df_predict = linker.inference.predict()
    if f"{labels_column}_l" not in df_predict.columns:
        # scores + ids suffice here — read predict's narrow core if attached
        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
    df_predict = _with_labels(linker, df_predict, labels_column)
    # null labels mean UNKNOWN, not "matches other unknowns": plain equality
    # (null -> no match), the reference's label-column semantics
    label = F.coalesce(
        (F.col(f"{labels_column}_l") == F.col(f"{labels_column}_r")).cast("int"),
        F.lit(0),
    )
    return truth_space_table(
        df_predict.withColumn("__clerical", label),
        score_col="match_weight",
        label_col="__clerical",
    )


def prediction_errors_from_labels_column(
    linker,
    labels_column: str,
    df_predict: Optional[DataFrame] = None,
    threshold_match_probability: float = 0.5,
    include_false_positives: bool = True,
    include_false_negatives: bool = True,
) -> DataFrame:
    """FP/FN pair lists at a threshold (accuracy.py:442-520)."""
    truth = F.coalesce(
        F.col(f"{labels_column}_l") == F.col(f"{labels_column}_r"), F.lit(False)
    )
    errors = _prediction_errors(
        truth, threshold_match_probability, include_false_positives, include_false_negatives
    )
    if df_predict is None:
        df_predict = linker.inference.predict()
    return _with_labels(linker, df_predict, labels_column).where(errors)


def _prediction_errors(
    truth: Column,
    threshold_match_probability: float,
    include_false_positives: bool,
    include_false_negatives: bool,
) -> Column:
    """The WHERE selecting false positives and/or false negatives: pairs whose
    ``match_probability >= threshold_match_probability`` disagrees with
    ``truth``. Callers build it before any scoring, so invalid flags fail
    before predict runs."""
    if not include_false_positives and not include_false_negatives:
        raise ValueError(
            "at least one of include_false_positives / include_false_negatives "
            "must be True"
        )
    pred = F.col("match_probability") >= threshold_match_probability
    errors = [pred & ~truth] if include_false_positives else []
    if include_false_negatives:
        errors.append(~pred & truth)
    return functools.reduce(operator.or_, errors)


def unlinkables_table(linker) -> DataFrame:
    """Self-link match-weight distribution (reference unlinkables.py;
    linker.py:493-552): score every record against itself; records whose
    self-match weight is low are intrinsically unlinkable."""
    s, records = linker.settings, linker.df_concat_with_tf()
    keys = [s.unique_id_column_name]
    if s.needs_source_dataset:
        keys.append(s.source_dataset_column_name)
    scored = linker.inference._scored(rules=[block_on(*keys)], nodes=records, nodes_right=records)
    rounded = F.round(F.col("match_weight"), 2).alias("match_weight")
    return (
        scored.select(rounded)
        .groupBy("match_weight")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("match_weight")
    )


def _score_labels_table(linker, labels: DataFrame) -> DataFrame:
    """Score EVERY labelled pair with the trained model — whether or not the
    blocking rules would have found it (the reference's labels-table
    evaluation contract, accuracy.py:40-120). Pairs are oriented lower id
    first, one row each; the clerical score rides through the junction join
    as ``__clerical_score``."""
    score = (
        F.col("clerical_match_score")
        if "clerical_match_score" in labels.columns
        else F.lit(1.0)
    ).cast("double")
    pairs = id_pairs(
        labels,
        linker.settings,
        "labels",
        carry=[score.alias("__clerical_score")],
        lower_id_on_lhs=True,
    )
    return linker.inference._scored(pairs=pairs)


def truth_space_table_from_labels_table(
    linker, labels: DataFrame, threshold_actual: float = 0.5
) -> DataFrame:
    """Truth space from a clerical pairwise labels table
    (unique_id_l, unique_id_r [, source_dataset_l/_r, clerical_match_score]);
    a pair is a true match iff clerical_match_score >= ``threshold_actual``
    (reference accuracy_analysis_from_labels_table, accuracy.py:40-120)."""
    scored = _score_labels_table(linker, labels).withColumn(
        "__truth", (F.col("__clerical_score") >= threshold_actual).cast("int")
    )
    return truth_space_table(scored, "match_weight", "__truth")


def prediction_errors_from_labels_table(
    linker,
    labels: DataFrame,
    threshold_match_probability: float = 0.5,
    threshold_actual: float = 0.5,
    include_false_positives: bool = True,
    include_false_negatives: bool = True,
) -> DataFrame:
    """FP/FN pair lists judged against a clerical labels table
    (reference prediction_errors_from_labels_table, accuracy.py:442-520)."""
    errors = _prediction_errors(
        F.col("__clerical_score") >= threshold_actual,
        threshold_match_probability,
        include_false_positives,
        include_false_negatives,
    )
    return _score_labels_table(linker, labels).where(errors)
