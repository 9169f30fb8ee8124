"""Probability/weight conversion helpers (reference splink/internals/misc.py:
prob_to_bayes_factor, prob_to_match_weight, bayes_factor_to_prob,
threshold_args_to_match_weight) and cartesian-count math."""

from __future__ import annotations

import math
from typing import Optional


def prob_to_bayes_factor(prob: float) -> float:
    p = min(max(prob, 1e-300), 1 - 1e-15)
    return p / (1 - p)


def bayes_factor_to_prob(bf: float) -> float:
    return bf / (1 + bf)


def prob_to_match_weight(prob: float) -> float:
    return math.log2(prob_to_bayes_factor(prob))


def match_weight_to_prob(weight: float) -> float:
    return bayes_factor_to_prob(2.0**weight)


def threshold_args_to_match_weight(
    threshold_match_probability: Optional[float],
    threshold_match_weight: Optional[float],
) -> Optional[float]:
    if threshold_match_probability is not None and threshold_match_weight is not None:
        raise ValueError("specify at most one of probability/weight thresholds")
    if threshold_match_probability is not None:
        return prob_to_match_weight(threshold_match_probability)
    return threshold_match_weight


def calculate_cartesian(counts: list[int], link_type: str) -> int:
    """Total possible comparisons given per-dataset row counts
    (reference misc.py calculate_cartesian, incl. its frame-count guards:
    dedupe_only is single-frame, link_only needs at least two)."""
    if link_type == "dedupe_only" and len(counts) > 1:
        raise ValueError("dedupe_only expects exactly one input frame")
    if link_type == "link_only":
        if len(counts) < 2:
            raise ValueError("link_only expects at least two input frames")
        total = 0
        for i, a in enumerate(counts):
            for b in counts[i + 1 :]:
                total += a * b
        return total
    n = sum(counts)
    return n * (n - 1) // 2


def default_parallelism(spark) -> int:
    """Executor-core count with a Spark Connect fallback: Connect sessions
    expose no ``sparkContext``, so degrade to ``spark.sql.shuffle.partitions``
    (the same quantity every partition-count policy here is derived from)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        except Exception:
            return 200


def row_count(df) -> int:
    """``df.count()``, memoised on the frame as ``_splink_row_count`` so
    every size decision on the same (usually persisted) frame shares one
    count job."""
    n = getattr(df, "_splink_row_count", None)
    if n is None:
        n = df.count()
        df._splink_row_count = n
    return n


def optimizer_barrier(col):
    """Value-stable identity wrapper that Catalyst cannot optimize through:
    ``shuffle(array(col))[0]`` — shuffling a one-element array is the
    identity, but ``shuffle`` is declared nondeterministic, so
    CollapseProject / alias substitution refuse to inline expressions
    staged behind it. Used to MATERIALIZE an expensive expression (token
    array, scored match weight) once per row where inlining would
    re-evaluate it per downstream reference (measured O(L²) token
    re-splits, double scoring passes; 2x wins on the predict path).

    CONTRACT NOTE: this leans on undocumented optimizer behavior (the
    nondeterminism check inside CollapseProject/PhysicalOperation). The
    canary test ``tests/test_plans.py::
    test_nondeterministic_barrier_blocks_collapse_project`` fails loudly
    if a Spark upgrade starts optimizing through it. Fallbacks if that
    happens: (a) set ``spark.sql.optimizer.excludedRules =
    org.apache.spark.sql.catalyst.optimizer.CollapseProject`` on the
    session, or (b) replace the barrier stage with
    ``df.localCheckpoint(eager=False)`` — both keep the staged
    materialization at the cost of, respectively, plan-wide collapse
    suppression or a checkpoint write.
    """
    from pyspark.sql import functions as F

    return F.shuffle(F.array(col)).getItem(0)


def optimizer_barrier_numeric(col, dtype: str = "bigint"):
    """Allocation-free variant of :func:`optimizer_barrier` for NUMERIC
    columns: ``col + cast(rand(7) * 0.0 as dtype)`` — adds exactly zero,
    but ``rand`` is nondeterministic so CollapseProject / alias
    substitution refuse to inline through it, same contract as the
    array-shuffle barrier. MEASURED on the Hilbert walk's staged
    projections (3 staged values x 4 stages): the array barrier's
    per-row allocations cost 2.8x the whole job at 5M rows; this form
    removes them (layout.hilbert_index is the consumer).

    Only valid where ``col + 0`` is the identity — integers and exact
    decimals; do NOT use for doubles where ``-0.0 + 0.0`` normalizes to
    ``+0.0`` matters, or non-numeric types (use ``optimizer_barrier``).
    Covered by the same canary test as the array barrier
    (tests/test_plans.py).
    """
    from pyspark.sql import functions as F

    return col + (F.rand(7) * F.lit(0.0)).cast(dtype)


def attach_caches(df, *frames):
    """Record the ``persist()``-ed frames an operator created while building
    ``df`` ON the returned DataFrame, so long-lived sessions can release
    them with :func:`unpersist_caches` once the output is consumed.

    The dedup/curation operators persist small derived frames (banded
    signatures, batch fingerprints, gram dictionaries) that several
    consumers inside one call share — "caller owns the cache" is the
    documented convention, but without a handle a 100-batch ingestion
    session accumulates MEMORY_AND_DISK frames it can never find again.
    Frames already attached to ``df`` (an operator composing another
    operator's output) are preserved and extended."""
    existing = list(getattr(df, "_splink_caches", ()) or ())
    try:
        df._splink_caches = existing + [f for f in frames if f is not None]
    except Exception:
        pass
    return df


def unpersist_caches(df, blocking: bool = False) -> int:
    """Release every cache recorded by :func:`attach_caches` on ``df``;
    returns how many were released. Call AFTER the output has been fully
    consumed (unpersisting earlier just forces a recompute, never wrong
    results). Safe to call twice."""
    n = 0
    for frame in list(getattr(df, "_splink_caches", ()) or ()):
        try:
            frame.unpersist(blocking=blocking)
            n += 1
        except Exception:
            pass
    try:
        df._splink_caches = []
    except Exception:
        pass
    return n
