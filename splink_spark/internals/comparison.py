"""A Comparison = ordered ladder of ComparisonLevels for one attribute.

Reference semantics: splink/internals/comparison.py (CASE ladder compile at
:161-168; gamma-column naming :133-154). Gamma ("comparison vector value")
assignment: the null level is -1, the ELSE arm is 0, and the remaining levels
count down from n_nonnull-1 in declaration order — so the first (most
specific) level gets the highest gamma, matching reference CASE semantics.

Every ladder is written as Spark SQL text and parsed by one ``F.expr`` per
output column: the gamma CASE over the levels' ``sql_condition``, and the
bayes-factor ladders over the gamma column, all built by one helper,
``_case`` (``Comparison._gamma_case`` for the gamma-keyed ones), and every
TF term by ``Comparison._tf_term``. ``predict.match_weight_sql`` sums a
comparison's log2 ladders into the match weight: predict and EM's with-TF
E-step (which passes its session m/u) both score through it, and the TF
chart weighs a value with the same ``log2_tf_adjustment``.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from .column_expression import sql_ident, sql_literal
from .comparison_level import _UNSUPPLIED, ComparisonLevel, prob_to_log2_bayes_factor


def _case(arms: list, otherwise) -> str:
    """``CASE WHEN cond THEN value ... ELSE otherwise END`` over ``arms`` =
    [(condition SQL, value)], a value being SQL text or a Python literal;
    just ``otherwise`` without arms."""
    def text(v):
        return v if isinstance(v, str) else sql_literal(v)

    if not arms:
        return text(otherwise)
    whens = " ".join(f"WHEN ({cond}) THEN {text(v)}" for cond, v in arms)
    return f"CASE {whens} ELSE {text(otherwise)} END"


class Comparison:
    def __init__(
        self,
        output_column_name: str,
        comparison_levels: list[ComparisonLevel],
        comparison_description: Optional[str] = None,
        input_columns: Optional[list[str]] = None,
    ):
        self.output_column_name = output_column_name
        self.comparison_description = comparison_description or output_column_name
        self.comparison_levels = comparison_levels
        # raw input columns this comparison reads (used to narrow the junction
        # re-join's shuffle width; None → unknown, carry all columns)
        self.input_columns = input_columns
        # output-column prefixes; overridden by Settings.__post_init__ from
        # the *_column_prefix settings keys (reference settings.py:215-233)
        self.gamma_prefix = "gamma_"
        self.bf_prefix = "bf_"
        self.tf_prefix = "tf_"
        self._assign_gamma_values()

    # -- gamma assignment ------------------------------------------------------
    def _assign_gamma_values(self) -> None:
        non_null = [lv for lv in self.comparison_levels if not lv.is_null_level]
        # gamma_sql() compiles the else arm as the CASE's ELSE 0, so
        # an else level anywhere but last would be keyed to a non-zero gamma
        # its pairs can never receive — probabilities silently land on the
        # wrong level. Reject the misordering instead.
        for lv in self.comparison_levels[:-1]:
            if lv.is_else_level:
                raise ValueError(
                    f"comparison {self.output_column_name!r}: the else level "
                    "must be the last level (it compiles to the CASE "
                    "ladder's ELSE arm)"
                )
        n = len(non_null)
        next_gamma = n - 1
        for lv in self.comparison_levels:
            if lv.is_null_level:
                lv.comparison_vector_value = -1
            else:
                lv.comparison_vector_value = next_gamma
                next_gamma -= 1

    @property
    def gamma_column_name(self) -> str:
        # spaces sanitised like the reference (comparison.py:189-190) so the
        # output column is always a plain identifier
        return f"{self.gamma_prefix}{self.output_column_name}".replace(" ", "_")

    @property
    def num_levels(self) -> int:
        return len([lv for lv in self.comparison_levels if not lv.is_null_level])

    @property
    def has_null_level(self) -> bool:
        return any(lv.is_null_level for lv in self.comparison_levels)

    @property
    def has_tf_adjustments(self) -> bool:
        return any(lv.has_tf_adjustment for lv in self.comparison_levels)

    @property
    def tf_adjustment_input_columns(self) -> list[str]:
        return sorted(
            {lv.tf_adjustment_column for lv in self.comparison_levels if lv.has_tf_adjustment}
        )

    # -- CASE ladders ----------------------------------------------------------
    def gamma_sql(self) -> str:
        """``CASE WHEN <null> THEN -1 WHEN <level k> THEN k ... ELSE 0 END``.

        First-match-wins order is the declaration order, exactly as the
        reference compiles its CASE (comparison.py:161-168).
        """
        arms = [
            (lv.sql_condition, lv.comparison_vector_value)
            for lv in self.comparison_levels
            if not lv.is_else_level
        ]
        return _case(arms, 0)

    def gamma_column(self) -> Column:
        return F.expr(f"{self.gamma_sql()} AS {sql_ident(self.gamma_column_name)}")

    # -- weight ladders over the gamma column ----------------------------------
    # predict.match_weight_sql sums log2_bayes_factor_sql and
    # log2_tf_adjustment_sql; the bf_* audit columns are their
    # multiplicative forms. ``m_u`` maps a gamma value to (m, u) and defaults
    # to the levels' own probabilities (EM's E-step passes its session's).
    def _m_u(self, lv: ComparisonLevel, m_u: Optional[dict] = None) -> tuple:
        if m_u is None:
            return lv.m_probability, lv.u_probability
        return m_u[lv.comparison_vector_value]

    def _gamma_case(self, arms: list, otherwise: float) -> str:
        """``CASE WHEN gamma = k THEN value_k ... ELSE otherwise END`` over
        ``arms`` = [(level, value)], a value being a float or SQL text."""
        gamma = sql_ident(self.gamma_column_name)
        return _case(
            [(f"{gamma} = {sql_literal(lv.comparison_vector_value)}", value)
             for lv, value in arms],
            otherwise,
        )

    def _tf_term(self, lv: ComparisonLevel, tf_l: Optional[str] = None,
                 tf_r: Optional[str] = None) -> str:
        """The pair's term frequency on ``lv``'s TF column:
        ``greatest(coalesce(tf_l, tf_r), coalesce(tf_r, tf_l), tf_minimum_u_value)``
        (reference comparison_level.py:671-731). ``tf_l`` / ``tf_r`` (SQL
        text) default to the pair's ``tf_<col>_l`` / ``tf_<col>_r`` columns."""
        c = lv.tf_adjustment_column
        tf_l = tf_l or sql_ident(f"{self.tf_prefix}{c}_l")
        tf_r = tf_r or sql_ident(f"{self.tf_prefix}{c}_r")
        return (f"greatest(coalesce({tf_l}, {tf_r}), coalesce({tf_r}, {tf_l}), "
                f"{sql_literal(float(lv.tf_minimum_u_value))})")

    def log2_tf_adjustment(
        self,
        lv: ComparisonLevel,
        tf_l: Optional[str] = None,
        tf_r: Optional[str] = None,
        m_u: Optional[dict] = None,
    ) -> str:
        """log2 of ``lv``'s TF multiplier, ``w * (log2(u_exact) - log2(tf))``
        (log-space form per SURVEY §2.8); 0 where the pair has no TF."""
        tf_term = self._tf_term(lv, tf_l, tf_r)
        u_exact = self._u_probability_for_exact_match(lv, m_u)
        log2_u_exact = sql_literal(math.log2(max(u_exact, 1e-300)))
        adj = f"{sql_literal(float(lv.tf_adjustment_weight))} * ({log2_u_exact} - log2({tf_term}))"
        return _case([(f"{tf_term} IS NOT NULL AND {tf_term} > 0", adj)], 0.0)

    def log2_bayes_factor_sql(self, m_u: Optional[dict] = None) -> str:
        """Per-pair log2 bayes factor as a CASE ladder over driver-precomputed
        constants (comparison_level.py:664-669). Using log2 constants (not
        runtime log2(bf)) keeps the combine step a pure sum of literals —
        deterministic across engines for oracle parity."""
        arms = [
            (lv, prob_to_log2_bayes_factor(*self._m_u(lv, m_u)))
            for lv in self.comparison_levels
            if not lv.is_null_level
        ]
        return self._gamma_case(arms, 0.0)

    def log2_tf_adjustment_sql(self, m_u: Optional[dict] = None) -> Optional[str]:
        """:meth:`log2_tf_adjustment` on the pair's TF level, 0 on every
        other level; None without TF levels."""
        if not self.has_tf_adjustments:
            return None
        arms = [
            (lv, self.log2_tf_adjustment(lv, m_u=m_u))
            for lv in self.comparison_levels
            if lv.has_tf_adjustment
        ]
        return self._gamma_case(arms, 0.0)

    def bayes_factor_column(self) -> Column:
        """``bf_gamma_<col>``: the audit form of :meth:`log2_bayes_factor_sql`
        (the null level's bayes factor is 1)."""
        arms = [(lv, lv.bayes_factor) for lv in self.comparison_levels if not lv.is_null_level]
        name = sql_ident(f"{self.bf_prefix}{self.gamma_column_name}")
        return F.expr(f"{self._gamma_case(arms, 1.0)} AS {name}")

    def tf_adjustment_column_expr(self) -> Optional[Column]:
        """``bf_tf_adj_gamma_<col>``: the audit form of
        :meth:`log2_tf_adjustment_sql`, ``(u_exact / tf) ^ w`` on a TF
        level and 1 elsewhere. u_exact carries the same 1e-300 clamp, so the
        bf_* columns reconcile with match_weight even for a trained u of 0."""
        if not self.has_tf_adjustments:
            return None
        arms = []
        for lv in self.comparison_levels:
            if not lv.has_tf_adjustment:
                continue
            tf_term = self._tf_term(lv)
            u_exact = sql_literal(max(float(self._u_probability_for_exact_match(lv)), 1e-300))
            mult = f"power({u_exact} / {tf_term}, {sql_literal(float(lv.tf_adjustment_weight))})"
            arms.append((lv, _case([(f"{tf_term} IS NOT NULL AND {tf_term} > 0", mult)], 1.0)))
        name = sql_ident(f"{self.bf_prefix}tf_adj_{self.gamma_column_name}")
        return F.expr(f"{self._gamma_case(arms, 1.0)} AS {name}")

    def score_bound_sql(self) -> str:
        """Per-pair upper bound on this comparison's share of the match
        weight (its log2 bayes factor plus its TF adjustment), decided by
        the cheap leading null / exact-match conditions alone — see
        :func:`score_bound_arms`. Same first-match CASE semantics as
        :meth:`gamma_sql`, so a pair taking arm k lands on level k."""
        leading, else_max = score_bound_arms(self.comparison_levels)
        return _case(
            [(self.comparison_levels[i].sql_condition, bound) for i, bound in leading], else_max
        )

    def score_bound_record(self) -> dict:
        """The bound table as data: each leading arm's level label and
        bound, the ELSE arm's maximum, and why the bound is infinite where
        it is (term-frequency adjusted levels have a data-dependent
        weight)."""
        leading, else_max = score_bound_arms(self.comparison_levels)
        tf_labels = [
            lv.label_for_charts for lv in self.comparison_levels if lv.has_tf_adjustment
        ]
        return {
            "comparison": self.output_column_name,
            "arms": [(self.comparison_levels[i].label_for_charts, b) for i, b in leading],
            "else_max": else_max,
            "unbounded": (
                f"term-frequency adjusted: {', '.join(tf_labels)}" if tf_labels else None
            ),
        }

    def _u_probability_for_exact_match(
        self, level: ComparisonLevel, m_u: Optional[dict] = None
    ) -> float:
        """u of the exact-match level for the SAME TF column as ``level``;
        fallback: any exact level, then the level's own u. u is read through
        ``m_u`` (see :meth:`_m_u`).

        Replaces the reference's sqlglot-signature autodetection
        (comparison_level.py:587-662) with the structural
        ``is_exact_match_level`` flag set by the level builders. Matching on
        ``tf_adjustment_column`` matters for multi-column comparisons with
        two TF-adjusted exact levels — the first exact level's u would
        otherwise scale the wrong column's adjustment.

        ``disable_tf_exact_match_detection`` (reference
        comparison_level.py:623-634) anchors on the level's OWN u instead.
        """
        own_u = self._m_u(level, m_u)[1]
        if level.disable_tf_exact_match_detection:
            if own_u is None:
                raise ValueError(
                    "Cannot compute term frequency adjustment when "
                    "disable_tf_exact_match_detection is True but "
                    "u_probability is not set on this level."
                )
            return own_u
        exact = [
            (lv, self._m_u(lv, m_u)[1])
            for lv in self.comparison_levels
            if lv.is_exact_match_level and not lv.is_null_level
        ]
        exact = [(lv, u) for lv, u in exact if u is not None]
        for lv, u in exact:
            if lv.tf_adjustment_column == level.tf_adjustment_column:
                return u
        if exact:
            return exact[0][1]
        return own_u if own_u is not None else 1.0

    # -- parameter access ------------------------------------------------------
    def level_for_gamma(self, gamma: int) -> ComparisonLevel:
        for lv in self.comparison_levels:
            if lv.comparison_vector_value == gamma:
                return lv
        raise KeyError(gamma)

    @property
    def all_probabilities_set(self) -> bool:
        return all(
            lv.has_probabilities for lv in self.comparison_levels if not lv.is_null_level
        )

    def configure(
        self,
        *,
        term_frequency_adjustments=_UNSUPPLIED,
        m_probabilities=_UNSUPPLIED,
        u_probabilities=_UNSUPPLIED,
    ) -> "Comparison":
        """Options common to all comparisons (reference
        comparison_creator.py:152-200): ``m_probabilities`` /
        ``u_probabilities`` map onto the non-null levels in order (exact
        first, ELSE last); ``term_frequency_adjustments`` switches TF on for
        the exact-match levels. Only supplied options change; returns self
        for chaining."""
        if term_frequency_adjustments is not _UNSUPPLIED:
            for lv in self.comparison_levels:
                if not lv.is_exact_match_level:
                    continue
                if term_frequency_adjustments:
                    col = None
                    if lv.spec and lv.spec.get("builder") == "ExactMatchLevel":
                        a = lv.spec.get("args") or []
                        if a and isinstance(a[0], str):
                            col = a[0]
                    lv.tf_adjustment_column = col or (
                        self.input_columns[0]
                        if self.input_columns
                        else self.output_column_name
                    )
                else:
                    lv.tf_adjustment_column = None
        for kind, probs in (("m_probability", m_probabilities),
                            ("u_probability", u_probabilities)):
            if probs is _UNSUPPLIED:
                continue
            scorable = [lv for lv in self.comparison_levels if not lv.is_null_level]
            if len(probs) != len(scorable):
                raise ValueError(
                    f"{kind[0]}_probabilities has {len(probs)} values but "
                    f"comparison {self.output_column_name!r} has "
                    f"{len(scorable)} non-null levels"
                )
            for lv, p in zip(scorable, probs):
                setattr(lv, kind, p)
        return self

    def as_dict(self) -> dict:
        from .comparison_level_library import level_spec_dict

        return {
            "output_column_name": self.output_column_name,
            "comparison_description": self.comparison_description,
            "input_columns": self.input_columns,
            "comparison_levels": [level_spec_dict(lv) for lv in self.comparison_levels],
        }

    @staticmethod
    def from_dict(d: dict) -> "Comparison":
        from .comparison_level_library import level_from_spec_dict

        input_columns = d.get("input_columns")
        if input_columns is None:
            input_columns = _infer_input_columns_from_level_dicts(
                d.get("comparison_levels", [])
            )
        return Comparison(
            d["output_column_name"],
            [level_from_spec_dict(ld) for ld in d["comparison_levels"]],
            d.get("comparison_description"),
            input_columns,
        )

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"Comparison({self.output_column_name!r}, "
            f"{len(self.comparison_levels)} levels)"
        )


def _infer_input_columns_from_level_dicts(level_dicts: list) -> Optional[list[str]]:
    """Reference-format settings dicts carry raw ``sql_condition`` strings and
    no explicit column list; EM's comparison-deactivation and session-lambda
    blocking adjustment (em_training_session.py:136-163) need to know which
    base columns a comparison reads. Mirror the reference's
    ``_input_columns_used_by_sql_condition`` (comparison_level.py) by
    collecting every ``<col>_l`` / ``<col>_r`` identifier in the conditions.
    Without this, training rules like ``l.surname = r.surname`` silently fail
    to deactivate the surname comparison — the error cancels at EM iteration 1
    (unadjusted prior x exact-match BF == adjusted prior) and corrupts every
    later iteration."""
    import re as _re

    cols: list[str] = []
    for ld in level_dicts:
        if not isinstance(ld, dict):
            continue
        sql = ld.get("sql_condition") or ""
        # blank single-quoted literal spans first: a literal containing
        # '_l' / '_r' (e.g. a regex pattern 'foo_l') is not a column
        # reference, and a phantom column here triggers spurious
        # missing-column warnings and wrongful EM comparison deactivation
        sql = _re.sub(r"'(?:[^'\\]|\\.|'')*'", " ", sql)
        for m in _re.finditer(r"\b([A-Za-z_]\w*?)_[lr]\b", sql):
            c = m.group(1)
            if c not in cols:
                cols.append(c)
    return cols or None


def _level_weight_bound(lv: ComparisonLevel) -> float:
    """The most a pair on ``lv`` adds to the match weight: 0 for a null
    level, +inf when a term-frequency term (unbounded above) rides on it."""
    if lv.is_null_level:
        return 0.0
    if lv.has_tf_adjustment:
        return math.inf
    return float(lv.log2_bayes_factor)


def score_bound_arms(
    levels: list[ComparisonLevel],
) -> tuple[list[tuple[int, float]], float]:
    """A comparison's weight-bound table, computed on the driver.

    Returns ``(leading, else_max)``. ``leading`` lists ``(index, bound)``
    for the ladder's leading run of null and exact-match levels, in
    declaration order: their conditions are cheap, and a pair whose first
    true condition among them is level ``index`` lands on exactly that
    level, so its bound is that level's weight. ``else_max`` bounds every
    other pair: the largest weight among the remaining levels, plus the
    last non-null level, which the gamma ladder's ``ELSE 0`` assigns when
    no condition holds.
    """
    leading: list[tuple[int, float]] = []
    for i, lv in enumerate(levels):
        if not (lv.is_null_level or lv.is_exact_match_level) or lv.is_else_level:
            break
        leading.append((i, _level_weight_bound(lv)))
    tail = levels[len(leading):]
    non_null = [lv for lv in levels if not lv.is_null_level]
    if non_null:
        tail = tail + non_null[-1:]
    return leading, max((_level_weight_bound(lv) for lv in tail), default=0.0)

