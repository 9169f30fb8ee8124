"""Scoring: gamma vector → bayes factors → match weight → match probability.

Reference: splink/internals/predict.py:42-132 —
``match_weight = log2(lambda/(1-lambda)) + sum(log2(bf_c)) [+ sum(log2(bf_tf_c))]``
with the numerically-stable sigmoid (:216-227):
``p = 1/(1+2^-mw)`` when mw >= 0 else ``2^mw/(1+2^mw)``.

:func:`match_weight_column` is the one place the match weight is written:
the prior plus, per comparison in order, its log2 bayes-factor CASE ladder
and its TF-adjustment ladder. predict sums it over the levels' own m/u; EM's
with-TF E-step (``training._em_tf_aggs``) sums it over the session's m/u.
All arithmetic is Column math inside whole-stage codegen; the per-gamma
bayes-factor constants are computed once on the driver.

Thresholded scoring prunes before the similarity functions run. The match
weight is the prior plus one driver-known constant per comparison level, so
a threshold bounds what each comparison must contribute.
:func:`score_bound` builds that bound from each comparison's cheap leading
null / exact-match conditions (``Comparison.score_bound_column``), and
:func:`where_score_can_reach` drops the pairs whose bound falls short of the
threshold before the gamma projection evaluates Jaro-Winkler, Levenshtein
and the like. The threshold WHERE in :func:`predict_from_comparison_vectors`
still decides the output, so it is identical with or without the bound.
"""

from __future__ import annotations

import logging
import math
import sys
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .misc import optimizer_barrier, prob_to_match_weight
from .settings import Settings
from .splink_logging import PIPELINE

logger = logging.getLogger(__name__)


def match_weight_column(
    comparisons: list, prior: float, m_u: Optional[dict] = None
) -> Column:
    """The match weight: ``log2(prior / (1 - prior))`` plus, per comparison
    in order, its log2 bayes-factor CASE ladder and its TF-adjustment ladder.

    ``m_u`` maps ``(comparison index, gamma value)`` to (m, u); None takes
    the levels' own m/u (predict). Summing driver-precomputed log2 constants
    (plus the runtime log2(tf) terms) equals log2(prod bf), deterministically
    in summation order.
    """
    mw: Column = F.lit(prob_to_match_weight(prior))
    for ci, comp in enumerate(comparisons):
        comp_m_u = None
        if m_u is not None:
            comp_m_u = {k: v for (i, k), v in m_u.items() if i == ci}
        mw = mw + comp.log2_bayes_factor_column(comp_m_u)
        tf_mw = comp.log2_tf_adjustment_column(comp_m_u)
        if tf_mw is not None:
            mw = mw + tf_mw
    return mw


def stable_sigmoid(match_weight: Column) -> Column:
    """2^mw / (1 + 2^mw), computed stably (predict.py:216-227)."""
    two_pow = F.pow(F.lit(2.0), match_weight)
    two_pow_neg = F.pow(F.lit(2.0), -match_weight)
    return F.when(match_weight >= 0, F.lit(1.0) / (F.lit(1.0) + two_pow_neg)).otherwise(
        two_pow / (F.lit(1.0) + two_pow)
    )


def _require_probabilities(settings: Settings) -> None:
    if not settings.all_probabilities_set:
        raise ValueError(
            "m/u probabilities not set on every comparison level — train the "
            "model or supply probabilities before predict()"
        )


def threshold_weight_floor(
    threshold_match_probability: Optional[float] = None,
    threshold_match_weight: Optional[float] = None,
) -> Optional[float]:
    """A match weight every pair passing the thresholds reaches, or None
    when no finite threshold constrains the weight (p <= 0 or p >= 1).

    A probability threshold maps to ``log2(p/(1-p))`` less a slack for the
    sigmoid's rounding: its result carries a relative error of a few ulps,
    which the logit's slope ``1/(p(1-p) ln 2)`` magnifies near p = 1, plus
    at most a few subnormal steps near p = 0. The slack allows 64 ulps and
    64 subnormal steps, far above what three roundings and a ``pow`` make.
    """
    floors = []
    if threshold_match_weight is not None and math.isfinite(threshold_match_weight):
        w = float(threshold_match_weight)
        floors.append(w - 1e-9 * max(1.0, abs(w)))
    p = threshold_match_probability
    if p is not None and 0.0 < p < 1.0:
        p = float(p)
        slack = (64 * sys.float_info.epsilon / (1.0 - p) + 64 * 5e-324 / p) / math.log(2)
        floors.append(math.log2(p / (1.0 - p)) - slack - 1e-9)
    return max(floors) if floors else None


def score_bound(
    settings: Settings,
    threshold_match_probability: Optional[float] = None,
    threshold_match_weight: Optional[float] = None,
) -> Optional[dict]:
    """The threshold's bound, as data: ``w_min`` (the weight floor), the
    prior and each comparison's bound table. None when the thresholds give
    no floor. Logged at ``PIPELINE`` level."""
    w_min = threshold_weight_floor(threshold_match_probability, threshold_match_weight)
    if w_min is None:
        return None
    _require_probabilities(settings)
    comps = [c.score_bound_record() for c in settings.comparisons]
    record = {
        "w_min": w_min,
        "prior": prob_to_match_weight(settings.probability_two_random_records_match),
        "comparisons": comps,
    }
    logger.log(PIPELINE, "score bound: w_min=%.6g prior=%.6g", w_min, record["prior"])
    for c in comps:
        logger.log(PIPELINE, "score bound: %s else_max=%.6g arms=%s unbounded=%s",
                   c["comparison"], c["else_max"], c["arms"], c["unbounded"])
    return record


def where_score_can_reach(
    pairs_with_cols: DataFrame, settings: Settings, w_min: float
) -> DataFrame:
    """Keep the pairs whose weight bound, ``prior + sum(bound_c)``, reaches
    ``w_min``.

    The bound is summed in the order :func:`match_weight_column` sums the
    match weight, over the same float constants, and rounded float
    addition is monotone, so ``bound >= match_weight`` for every pair: no
    pair that passes the threshold is dropped. The predicate sits behind an
    optimizer barrier: Catalyst would otherwise push its CASE ladders into
    the junction join's condition.
    """
    bound: Column = F.lit(prob_to_match_weight(settings.probability_two_random_records_match))
    for comp in settings.comparisons:
        bound = bound + comp.score_bound_column()
    return pairs_with_cols.where(optimizer_barrier(bound >= F.lit(float(w_min))))


def predict_from_comparison_vectors(
    cv: DataFrame,
    settings: Settings,
    threshold_match_probability: Optional[float] = None,
    threshold_match_weight: Optional[float] = None,
) -> DataFrame:
    """Prepend match_weight and match_probability; optionally filter. The
    bf_* audit columns are built only under
    ``retain_intermediate_calculation_columns``.

    A threshold is a WHERE over the score columns re-aliased through an
    optimizer barrier (``shuffle(array(x))[0]``, the same value, O(1) per
    row). A plain WHERE lets Catalyst substitute the score aliases into the
    predicate and push the whole scoring tree (gamma CASE ladders and
    similarity functions) into the junction join's condition, which scores
    every pair a second time; behind the barrier the filter stays a plain
    attribute comparison above ONE scoring pass.
    """
    _require_probabilities(settings)
    scored = cv
    if settings.retain_intermediate_calculation_columns:
        audit = []
        for comp in settings.comparisons:
            audit.append(comp.bayes_factor_column())
            tf_col = comp.tf_adjustment_column_expr()
            if tf_col is not None:
                audit.append(tf_col)
        scored = scored.select("*", *audit)
    scored = scored.withColumn(
        "match_weight",
        match_weight_column(settings.comparisons, settings.probability_two_random_records_match),
    )
    scored = scored.withColumn("match_probability", stable_sigmoid(F.col("match_weight")))

    front = ["match_weight", "match_probability"]
    if threshold_match_weight is not None or threshold_match_probability is not None:
        scored = scored.select(
            *[c for c in scored.columns if c not in front],
            *[optimizer_barrier(F.col(c)).alias(c) for c in front],
        )
        if threshold_match_weight is not None:
            scored = scored.where(F.col("match_weight") >= threshold_match_weight)
        if threshold_match_probability is not None:
            scored = scored.where(F.col("match_probability") >= threshold_match_probability)

    rest = [c for c in scored.columns if c not in front]
    return scored.select(*front, *rest)
