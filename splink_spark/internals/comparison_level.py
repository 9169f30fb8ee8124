"""Comparison levels: one boolean predicate + m/u probabilities each.

Reference semantics: splink/internals/comparison_level.py:161-849. A
``ComparisonLevel`` owns (a) a boolean condition over the ``_l``/``_r``
suffixed columns of a candidate pair, (b) ``m_probability`` /
``u_probability``, (c) optional term-frequency adjustment config.

The condition is Spark SQL text over the suffixed columns, as in the
reference's ``sql_condition``; comparison.py writes it into the gamma CASE
ladder and the score bound, and Spark parses each ladder once. Match-weight
math (log2(m/u), clamps at 1e-300 — reference comparison_level.py:33-52,
426-441) is plain Python on the driver.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

# sentinel distinguishing "not supplied" from an explicit None in configure()
# (the reference's unsupplied_option, comparison_level_creator.py)
_UNSUPPLIED = object()

# reference comparison_level.py:33-52 — avoid log2(0)
_PROB_CLAMP = 1e-300

LEVEL_NOT_OBSERVED_TEXT = "level not observed in training dataset"


def _clamp(p: float) -> float:
    return max(float(p), _PROB_CLAMP)


def prob_to_log2_bayes_factor(m: float, u: float) -> float:
    return math.log2(_clamp(m) / _clamp(u))


def bayes_factor(m: float, u: float) -> float:
    return _clamp(m) / _clamp(u)


class ComparisonLevel:
    """One arm of a comparison's CASE ladder.

    ``sql_condition`` is the boolean Spark SQL expression over the
    ``_l``/``_r`` columns (text, so levels need no active SparkSession).
    """

    def __init__(
        self,
        sql_condition: str,
        label_for_charts: str,
        *,
        is_null_level: bool = False,
        is_else_level: bool = False,
        m_probability: Optional[float] = None,
        u_probability: Optional[float] = None,
        tf_adjustment_column: Optional[str] = None,
        tf_adjustment_weight: float = 1.0,
        tf_minimum_u_value: float = 0.0,
        disable_tf_exact_match_detection: bool = False,
        is_exact_match_level: bool = False,
        fix_m_probability: bool = False,
        fix_u_probability: bool = False,
    ):
        self.sql_condition = sql_condition
        self.label_for_charts = label_for_charts
        self.is_null_level = is_null_level
        self.is_else_level = is_else_level
        self.m_probability = m_probability
        self.u_probability = u_probability
        self.tf_adjustment_column = tf_adjustment_column
        self.tf_adjustment_weight = tf_adjustment_weight
        self.tf_minimum_u_value = tf_minimum_u_value
        # reference comparison_level.py:623-634: when set, the TF adjustment
        # anchors on THIS level's own u_probability instead of hunting for a
        # matching exact-match level
        self.disable_tf_exact_match_detection = disable_tf_exact_match_detection
        # Structural flag replacing the reference's sqlglot-tree autodetection
        # of exact-match levels (comparison_level.py:587-662): builders set it
        # explicitly when the level predicate is plain equality.
        self.is_exact_match_level = is_exact_match_level
        # the input column(s) whose equality this level asserts, when the
        # predicate is a plain (conjunction of) equality — the reference's
        # ``_exact_match_colnames`` (comparison_level.py:649-662)
        self.exact_match_colnames: Optional[list] = None
        self.fix_m_probability = fix_m_probability
        self.fix_u_probability = fix_u_probability
        # builder spec recorded by comparison_level_library for JSON round-trip
        self.spec: Optional[dict] = None
        # assigned by the owning Comparison
        self.comparison_vector_value: Optional[int] = None
        # per-training-session estimates (median taken across sessions,
        # reference comparison_level.py:386-399)
        self._m_estimates: list[float] = []
        self._u_estimates: list[float] = []

    # -- predicate -------------------------------------------------------------
    def condition(self) -> Column:
        return F.expr(self.sql_condition)

    def configure(
        self,
        *,
        m_probability=_UNSUPPLIED,
        u_probability=_UNSUPPLIED,
        tf_adjustment_column=_UNSUPPLIED,
        tf_adjustment_weight=_UNSUPPLIED,
        tf_minimum_u_value=_UNSUPPLIED,
        is_null_level=_UNSUPPLIED,
        label_for_charts=_UNSUPPLIED,
        disable_tf_exact_match_detection=_UNSUPPLIED,
        fix_m_probability=_UNSUPPLIED,
        fix_u_probability=_UNSUPPLIED,
    ) -> "ComparisonLevel":
        """Set the options common to all comparison levels (reference
        comparison_level_creator.py:72-160): only supplied options are
        changed, so repeated calls never reset earlier choices. Returns self
        for chaining, e.g.
        ``ExactMatchLevel("email").configure(tf_adjustment_column="email")``.
        """
        supplied = {
            "m_probability": m_probability,
            "u_probability": u_probability,
            "tf_adjustment_column": tf_adjustment_column,
            "tf_adjustment_weight": tf_adjustment_weight,
            "tf_minimum_u_value": tf_minimum_u_value,
            "is_null_level": is_null_level,
            "label_for_charts": label_for_charts,
            "disable_tf_exact_match_detection": disable_tf_exact_match_detection,
            "fix_m_probability": fix_m_probability,
            "fix_u_probability": fix_u_probability,
        }
        for attr, val in supplied.items():
            if val is not _UNSUPPLIED:
                setattr(self, attr, val)
        return self

    # -- weight math -----------------------------------------------------------
    @property
    def has_probabilities(self) -> bool:
        return self.m_probability is not None and self.u_probability is not None

    @property
    def log2_bayes_factor(self) -> float:
        if self.is_null_level:
            return 0.0
        return prob_to_log2_bayes_factor(self.m_probability, self.u_probability)

    @property
    def bayes_factor(self) -> float:
        if self.is_null_level:
            return 1.0
        return bayes_factor(self.m_probability, self.u_probability)

    @property
    def has_tf_adjustment(self) -> bool:
        return self.tf_adjustment_column is not None

    def add_trained_m(self, value: float) -> None:
        self._m_estimates.append(value)

    def add_trained_u(self, value: float) -> None:
        self._u_estimates.append(value)

    def fold_trained_values(self) -> None:
        """Median across training sessions → final m/u (linker.py:459-467)."""
        import statistics

        if self._m_estimates and not self.fix_m_probability:
            self.m_probability = statistics.median(self._m_estimates)
        if self._u_estimates and not self.fix_u_probability:
            self.u_probability = statistics.median(self._u_estimates)

    # -- (de)serialisation -----------------------------------------------------
    def as_dict(self) -> dict:
        d: dict = {"label_for_charts": self.label_for_charts}
        if self.is_null_level:
            d["is_null_level"] = True
        if self.m_probability is not None:
            d["m_probability"] = self.m_probability
        if self.u_probability is not None:
            d["u_probability"] = self.u_probability
        if self.tf_adjustment_column:
            d["tf_adjustment_column"] = self.tf_adjustment_column
            d["tf_adjustment_weight"] = self.tf_adjustment_weight
            if self.tf_minimum_u_value:
                d["tf_minimum_u_value"] = self.tf_minimum_u_value
            if self.disable_tf_exact_match_detection:
                d["disable_tf_exact_match_detection"] = True
        return d

    def __repr__(self) -> str:  # pragma: no cover
        return f"ComparisonLevel({self.label_for_charts!r}, gamma={self.comparison_vector_value})"
