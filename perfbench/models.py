"""The linkage models the workloads run, and the ground-truth scoring.

``dedupe_settings`` is the 1M-row dedupe bench's model (five comparisons,
one Jaro-Winkler, two TF-adjusted), trained by the workload itself.
``FUZZY_MODEL`` is a fixed m/u table: a comparison name maps to the (m, u)
of each non-null level, in level order.
"""

from __future__ import annotations

import math

import numpy as np

DEDUPE_PRIOR = 2e-6

# loose blocking: records born in the same year and month
FUZZY_BLOCK = "substr(dob, 1, 7)"
FUZZY_PRIOR = 1e-4
FUZZY_THRESHOLD = 0.5
FUZZY_MODEL = {
    # exact, jw >= 0.9, jw >= 0.7, else
    "first_name": [(0.60, 0.001), (0.25, 0.004), (0.10, 0.05), (0.05, 0.945)],
    # exact, dl <= 1, dl <= 2, else
    "surname": [(0.65, 0.0005), (0.25, 0.002), (0.05, 0.01), (0.05, 0.9875)],
    # exact, jaccard >= 0.9, jaccard >= 0.7, else
    "email": [(0.80, 0.0001), (0.10, 0.001), (0.05, 0.05), (0.05, 0.9489)],
    "dob": [(0.92, 0.03), (0.08, 0.97)],
    "city": [(0.90, 0.12), (0.10, 0.88)],
}


def dedupe_settings():
    import splink_spark.comparison_library as cl
    from splink_spark import SettingsCreator, block_on

    return SettingsCreator(
        comparisons=[
            cl.JaroWinklerAtThresholds("first_name", [0.9]),
            cl.ExactMatch("surname", term_frequency_adjustments=True),
            cl.ExactMatch("dob"),
            cl.ExactMatch("city", term_frequency_adjustments=True),
            cl.ExactMatch("email"),
        ],
        blocking_rules_to_generate_predictions=[
            block_on("surname", "dob"),
            block_on("email"),
        ],
        probability_two_random_records_match=DEDUPE_PRIOR,
    )


def _with_fixed_params(settings, model: dict, prior: float):
    for comp in settings.comparisons:
        levels = [lv for lv in comp.comparison_levels if not lv.is_null_level]
        params = model[comp.output_column_name]
        if len(levels) != len(params):
            raise ValueError(f"{comp.output_column_name}: {len(levels)} levels, "
                             f"{len(params)} (m, u) pairs")
        for lv, (m, u) in zip(levels, params):
            lv.m_probability, lv.u_probability = m, u
    settings.probability_two_random_records_match = prior
    return settings


def fuzzy_settings():
    import splink_spark.comparison_library as cl
    from splink_spark import SettingsCreator, block_on

    settings = SettingsCreator(
        comparisons=[
            cl.JaroWinklerAtThresholds("first_name", [0.9, 0.7]),
            cl.DamerauLevenshteinAtThresholds("surname", [1, 2]),
            cl.JaccardAtThresholds("email", [0.9, 0.7]),
            cl.ExactMatch("dob"),
            cl.ExactMatch("city"),
        ],
        blocking_rules_to_generate_predictions=[block_on(FUZZY_BLOCK)],
    )
    return _with_fixed_params(settings, FUZZY_MODEL, FUZZY_PRIOR)


def log2_bf(m: float, u: float) -> float:
    return math.log2(m / u)


# -- ground truth ---------------------------------------------------------


def true_pair_count(entities: np.ndarray) -> int:
    """Same-entity pairs among the given records."""
    _, n = np.unique(entities, return_counts=True)
    return int((n * (n - 1) // 2).sum())


def f1(tp: int, predicted: int, true: int) -> float:
    return 2 * tp / (predicted + true) if predicted + true else 0.0


def pair_f1(entity_of: np.ndarray, uid_l: np.ndarray, uid_r: np.ndarray,
            true_pairs: int) -> float:
    """F1 of the linked pairs (uid_l, uid_r) against ``entity_of[uid]``."""
    tp = int((entity_of[uid_l] == entity_of[uid_r]).sum())
    return f1(tp, len(uid_l), true_pairs)


def cluster_f1(entity_of: np.ndarray, uids: np.ndarray, clusters: np.ndarray) -> float:
    """Pairwise F1 of a clustering: two records are linked when they share
    a cluster."""
    ent = entity_of[uids]
    predicted = true_pair_count(clusters)
    true = true_pair_count(ent)
    # pairs in the same cluster AND the same entity
    key = clusters.astype(np.int64) * (int(ent.max()) + 1) + ent
    tp = true_pair_count(key)
    return f1(tp, predicted, true)
