"""Training: deterministic-lambda, u-by-random-sampling, EM.

Every stage that needs gammas gets its gamma frame from
``Linker.comparison_vectors``, over the linker's one node table
(``df_concat_with_tf``) — the same pair path predict scores through.

Reference:
- ``estimate_probability_two_random_records_match`` — count pairs produced by
  deterministic rules / total possible pairs / recall
  (linker_components/training.py:35-161).
- ``estimate_u_using_random_sampling`` — deterministic hash-sample so that
  sample^2 ~= max_pairs, cartesian the sample against itself, count gamma
  levels, all pairs assumed non-matches (training.py:163-229, estimate_u.py).
  Sampling uses ``pmod(hash(uid), m) < k`` (dialects.py:170-206, :545-549) —
  deterministic across runs/partitionings, unlike ``df.sample``.
- ``estimate_parameters_using_expectation_maximisation`` — block on the
  training rule, compute comparison vectors ONCE, pre-aggregate to
  agreement-pattern counts (expectation_maximisation.py:28-42, 247-251 —
  the loop-invariant hoist), then iterate E/M on the driver over the tiny
  pattern table: mathematically identical to the reference's SQL loop, and
  the idiomatic Spark design (per-iteration work is O(#patterns), no reason
  to launch a job per iteration). With ``estimate_without_term_frequencies
  =False`` the E-step instead scores every pair through predict's own
  ``predict.match_weight_column``, over the session's prior and m/u, so
  predict and EM weigh a comparison level (TF term included) the same way.
"""

from __future__ import annotations

import logging
import math
from typing import Optional, Sequence, Union

from pyspark.sql import functions as F

from .blocking import (
    BlockingRule,
    CustomRule,
    _sample_records,
    block_using_rules,
    cartesian_count,
    count_comparisons_per_rule,
)
from .comparison_vectors import id_pairs
from .misc import bayes_factor_to_prob, row_count
from .predict import match_weight_column, stable_sigmoid

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# lambda from deterministic rules
# ---------------------------------------------------------------------------


def _deterministic_pairs_count_via_aggregation(linker, rules) -> Optional[int]:
    """Exact count of the pairs the deterministic rules produce WITHOUT
    executing any self-join: per-blocking-key record counts + inclusion-
    exclusion over the rule subsets.

    A pure-equality rule's pair set is fully determined by per-key record
    counts (sum of c*(c-1)/2), and the intersection of two equality rules is
    equality on the union of their key expressions — so |A_1 ∪ ... ∪ A_k| is
    a sum of 2^k - 1 per-key aggregations, each a map-side-combined hash agg
    over the (cached) concat, all unioned into ONE Spark job. At 100 TB this
    replaces k self-joins of the full node table with k narrow aggregations —
    the same O(distinct keys) shape as the pre-filter blocking estimator
    (reference blocking_analysis.py:78-190), but exact.

    Returns None when any rule is not pure-equality (or there are too many
    rules) — the caller falls back to executing the blocking join.
    """
    from itertools import combinations

    s = linker.settings
    if not rules or len(rules) > 5:
        return None
    if any(not r.key_expressions or r.exploded_columns for r in rules):
        return None
    concat = linker.df_concat()
    sd = s.source_dataset_column_name if s.needs_source_dataset else None
    link_only = s.link_type == "link_only"
    if link_only and (sd is None or sd not in concat.columns):
        return None

    subset_terms = []
    for r_size in range(1, len(rules) + 1):
        for subset in combinations(range(len(rules)), r_size):
            ces = [ce for i in subset for ce in rules[i].key_expressions]
            knames = [f"k{j}" for j in range(len(ces))]
            keys = [ce.on(ce.name).alias(a) for ce, a in zip(ces, knames)]
            cols = keys + ([F.col(sd).alias("__sd")] if link_only else [])
            df = concat.select(*cols)
            not_null = keys and F.col(knames[0]).isNotNull()
            for a in knames[1:]:
                not_null = not_null & F.col(a).isNotNull()
            df = df.where(not_null)
            if link_only:
                # within-key cross-dataset pairs: (tot^2 - sum(c_d^2)) / 2
                per_kd = df.groupBy(*knames, "__sd").agg(
                    F.count(F.lit(1)).alias("c")
                )
                per_k = per_kd.groupBy(*knames).agg(
                    F.sum("c").alias("tot"),
                    F.sum(F.col("c") * F.col("c")).alias("sq"),
                )
                cnt = per_k.agg(
                    F.sum(F.expr("(tot * tot - sq) DIV 2")).alias("pairs")
                )
            else:
                per_k = df.groupBy(*knames).agg(F.count(F.lit(1)).alias("c"))
                cnt = per_k.agg(F.sum(F.expr("c * (c - 1) DIV 2")).alias("pairs"))
            sign = 1 if r_size % 2 == 1 else -1
            subset_terms.append(
                cnt.select(
                    (F.lit(sign) * F.coalesce(F.col("pairs"), F.lit(0))).alias("term")
                )
            )
    unioned = subset_terms[0]
    for t in subset_terms[1:]:
        unioned = unioned.unionByName(t)
    total = unioned.agg(F.sum("term").alias("observed")).collect()[0]["observed"]
    return int(total or 0)


def estimate_probability_two_random_records_match(
    linker,
    deterministic_rules: Sequence[Union[str, BlockingRule]],
    recall: float,
    record_sample_proportion: float = 1.0,
) -> float:
    if not 0 < recall <= 1:
        raise ValueError("recall must be in (0, 1]")
    rules = [r if isinstance(r, BlockingRule) else CustomRule(r) for r in deterministic_rules]
    s = linker.settings
    sd = s.source_dataset_column_name if s.needs_source_dataset else None
    observed = None
    if record_sample_proportion >= 1.0:
        observed = _deterministic_pairs_count_via_aggregation(linker, rules)
    if observed is None:
        # reference linker_components/training.py:39 — the blocking-analysis
        # counter executes the join (on records sampled on both sides and
        # scaled back up by 1/p**2 when p < 1) and owns the dedup across
        # rules and the small-sample warning
        observed = count_comparisons_per_rule(
            linker.df_concat(),
            rules,
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
            source_dataset_column_name=sd,
            record_sample_proportion=record_sample_proportion,
        )[-1]["cumulative_comparison_count"]
    total = cartesian_count(linker.df_concat(), s.link_type, sd)
    prob = observed / recall / total if total else 0.0
    prob = min(max(prob, 1e-12), 1 - 1e-12)
    s.probability_two_random_records_match = prob
    logger.info(
        "estimated probability_two_random_records_match=%.3g "
        "(%d observed pairs, recall %.2f, %.3g total comparisons)",
        prob, observed, recall, total,
    )
    return prob


# ---------------------------------------------------------------------------
# gamma-level tallies (u and m estimation)
# ---------------------------------------------------------------------------


def _level_counts(comparisons, cv) -> dict:
    """Per comparison, the pair count at each non-null level (``g__k``) and
    at any non-null level (``g__total``), in one aggregate job."""
    aggs = []
    for comp in comparisons:
        g = comp.gamma_column_name
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                k = lv.comparison_vector_value
                aggs.append(
                    F.sum(F.when(F.col(g) == k, 1).otherwise(0)).alias(f"{g}__{k}")
                )
        aggs.append(F.sum(F.when(F.col(g) != -1, 1).otherwise(0)).alias(f"{g}__total"))
    return {key: v or 0 for key, v in cv.agg(*aggs).collect()[0].asDict().items()}


def _set_level_proportions(comparisons, counts: dict, which: str) -> dict:
    """Set each non-null level's ``which`` ("m" or "u") probability to its
    share of the comparison's non-null pairs (floored at 1e-9), unless that
    probability is fixed or the comparison saw no pairs."""
    result = {}
    for comp in comparisons:
        g = comp.gamma_column_name
        total = counts[f"{g}__total"]
        for lv in comp.comparison_levels:
            if lv.is_null_level or total == 0 or getattr(lv, f"fix_{which}_probability"):
                continue
            k = lv.comparison_vector_value
            p = max(counts[f"{g}__{k}"] / total, 1e-9)
            setattr(lv, f"{which}_probability", p)
            result[f"{comp.output_column_name}[{k}]"] = p
    return result


# ---------------------------------------------------------------------------
# u by random sampling
# ---------------------------------------------------------------------------


def estimate_u_using_random_sampling(
    linker,
    max_pairs: float = 1e6,
    seed: Optional[int] = None,
    min_count_per_level: Optional[int] = None,
    num_chunks: int = 1,
    sampling_method: str = "xxhash64",
) -> dict:
    """All sampled pairs assumed non-matches → gamma distribution estimates u.

    Deterministic sampling filter: pmod(xxhash64(uid, seed), M) < k with
    M chosen so the kept fraction f satisfies (f*n)^2/2 ~= max_pairs.

    ``sampling_method="minstd"`` swaps xxhash64 for the MINSTD multiplicative
    hash ``(uid * 48271) % 2147483647`` — a weaker scramble, but plain int64
    arithmetic that ANY SQL engine reproduces bit-for-bit, which is what the
    cross-engine correctness gate needs (xxhash64 exists only in Spark).
    Production default stays xxhash64.

    ``num_chunks`` > 1 enables the reference's chunked early-stop
    (estimate_u.py:122-160): the rhs sample is hash-split into chunks,
    processed in turn, and iteration stops once every non-null level has
    accumulated >= ``min_count_per_level`` observations — rare fuzzy levels
    get enough mass without always paying the full max_pairs budget.
    """
    s = linker.settings
    uid = s.unique_id_column_name
    concat = linker.df_concat_with_tf()
    n = row_count(concat)
    target_sample = math.sqrt(max_pairs * 2)
    fraction = min(1.0, target_sample / max(n, 1))

    modulus = 1_000_000
    threshold = int(fraction * modulus)
    if sampling_method == "minstd":
        bucket = F.pmod(
            F.pmod(F.col(uid).cast("bigint") * F.lit(48271), F.lit(2147483647)),
            F.lit(modulus),
        )
    elif sampling_method == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.col(uid), F.lit(seed or 0)), F.lit(modulus))
    else:
        raise ValueError("sampling_method must be 'xxhash64' or 'minstd'")
    sample = concat.where(bucket < threshold)
    # The TRUE-rule self-join plans as a CartesianProduct whose task count is
    # |parts_l| x |parts_r| — inherited from the (wide) parent, that's a grid
    # of thousands of micro-tasks each paying pandas-UDF invocation overhead
    # for a table of only ~sqrt(2*max_pairs) rows. Coalesce the sample to
    # ~sqrt(cores) partitions so the cartesian emits ~cores right-sized tasks,
    # and cache it so both join sides scan the tiny table, not the concat.
    from .misc import default_parallelism

    side = max(2, math.isqrt(2 * default_parallelism(sample.sparkSession)))
    sample = sample.coalesce(side).persist()
    try:
        sample._splink_row_count = sample.count()  # type: ignore[attr-defined]
        # every unordered pair of sampled records once, in the space predict
        # scores (link_only drops within-dataset pairs)
        cv = linker.comparison_vectors(rules=[CustomRule("TRUE")], nodes=sample)
        if num_chunks <= 1:
            totals = _level_counts(s.comparisons, cv)
        else:
            # the pair filter puts each pair's greater endpoint on the right,
            # so hashing the right uid puts every pair in exactly one chunk;
            # the filter lands below the cartesian, on its right side
            chunk_of = F.pmod(
                F.xxhash64(F.col(f"{uid}_r"), F.lit((seed or 0) + 1)),
                F.lit(num_chunks),
            )
            totals = {}
            for ci in range(num_chunks):
                row = _level_counts(s.comparisons, cv.where(chunk_of == ci))
                for key, v in row.items():
                    totals[key] = totals.get(key, 0) + v
                if min_count_per_level is not None and all(
                    v >= min_count_per_level
                    for key, v in totals.items()
                    if not key.endswith("__total")
                ):
                    logger.info("u-estimation early stop after chunk %d", ci)
                    break
    finally:
        sample.unpersist()
    return _set_level_proportions(s.comparisons, totals, "u")


# ---------------------------------------------------------------------------
# m from ground-truth labels
# ---------------------------------------------------------------------------


def estimate_m_from_pairwise_labels(linker, labels: "DataFrame") -> dict:
    """m from a clerically-labelled pair table (unique_id_l, unique_id_r
    [, source_dataset_l/_r, clerical_match_score]) — reference
    m_from_labels.py / block_from_labels.py: orient pairs lower-id-first
    (``comparison_vectors.id_pairs``), junction-join, count gamma levels.
    Rows with clerical_match_score < 1 are excluded (non-matches teach u,
    not m)."""
    s = linker.settings
    if "clerical_match_score" in labels.columns:
        labels = labels.where(F.col("clerical_match_score") >= 1.0)
    pairs = id_pairs(labels, s, "labels", lower_id_on_lhs=True)
    return _m_from_cv(s, linker.comparison_vectors(pairs=pairs))


def _m_from_cv(s, cv) -> dict:
    return _set_level_proportions(s.comparisons, _level_counts(s.comparisons, cv), "m")


def estimate_m_from_label_column(linker, label_column: str) -> dict:
    """m from a ground-truth entity column: pairs sharing the label are true
    matches; their gamma distribution estimates m directly
    (reference training.py:359-437 / m_training.py via block_from_labels)."""
    from .blocking import block_on

    s = linker.settings
    cv = linker.comparison_vectors(
        rules=[block_on(label_column)],
        link_type=s.link_type if not s.needs_source_dataset else "link_and_dedupe",
    )
    return _m_from_cv(s, cv)


def _em_tf_aggs(active, m, u, session_lam):
    """Aggregate expressions for the with-TF E-step: p per pair is predict's
    match weight (``predict.match_weight_column``) over the session's prior
    and m/u, then expected-count sums per level."""
    m_u = {key: (m[key], u[key]) for key in m}
    p = stable_sigmoid(match_weight_column(active, session_lam, m_u))
    aggs = [
        F.sum(p).alias("__lam_num"),
        F.count(F.lit(1)).cast("double").alias("__lam_den"),
    ]
    for ci, comp in enumerate(active):
        gamma = F.col(comp.gamma_column_name)
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            k = lv.comparison_vector_value
            hit = (gamma == F.lit(k)).cast("double")
            aggs.append(F.sum(p * hit).alias(f"__m_{ci}_{k}"))
            aggs.append(F.sum((F.lit(1.0) - p) * hit).alias(f"__u_{ci}_{k}"))
    return aggs


# ---------------------------------------------------------------------------
# EM over agreement-pattern counts
# ---------------------------------------------------------------------------


def _prob_to_bayes_factor(p: float) -> float:
    p = min(max(p, 1e-12), 1 - 1e-12)
    return p / (1 - p)


def _levels_to_reverse_blocking_rule(s, rule: BlockingRule) -> list:
    """The exact-match comparison levels 'used up' by an equality training
    rule (reference settings.py:503-533
    ``_get_comparison_levels_corresponding_to_training_blocking_rule``):
    blocking on first_name conditions every blocked pair on
    first_name-exact-match, so the session prior must be multiplied by that
    level's Bayes factor going in, and divided back out on write-back.

    Only levels whose asserted equality columns are a SUBSET of the blocking
    columns qualify — a compound exact level (first_name AND surname AND dob)
    is NOT implied by blocking on first_name alone, and reversing it would
    bias the session lambda by the extra columns' Bayes factors. Largest
    subsets win (block on first_name+surname with a compound level present
    reverses the compound level, not two singles), and each blocking column
    is consumed at most once."""
    remaining = set(rule.columns)
    if not remaining:
        return []
    candidates = []  # (colnames, comp, lv)
    for comp in s.comparisons:
        for lv in comp.comparison_levels:
            if not lv.is_exact_match_level:
                continue
            colnames = set(lv.exact_match_colnames or comp.input_columns or ())
            if colnames:
                candidates.append((colnames, comp, lv))
    # prefer multi-column compound levels over singles (reference sorts by
    # descending colname count before the greedy subset sweep)
    candidates.sort(key=lambda t: -len(t[0]))
    out = []
    for colnames, comp, lv in candidates:
        if colnames <= remaining:
            remaining -= colnames
            out.append((comp, lv))
    return out


# EM record-sampling modulus (reference em_sampling.py:20-29); the probe
# uses blocking._sample_records' coarser one
_EM_SAMPLE_MODULUS = 1_000_000_000


def estimate_parameters_using_em(
    linker,
    blocking_rule: Union[str, BlockingRule],
    fix_u_probabilities: bool = True,
    fix_m_probabilities: bool = False,
    fix_probability_two_random_records_match: bool = False,
    populate_probability_two_random_records_match_from_trained_values: bool = False,
    max_iterations: Optional[int] = None,
    em_convergence: Optional[float] = None,
    estimate_without_term_frequencies: bool = True,
    max_pairs: Optional[float] = None,
    record_sample_proportion: float = 0.01,
) -> dict:
    """One EM training session blocked on ``blocking_rule``.

    Reference semantics (linker_components/training.py:231-242 defaults,
    em_training_session.py:80-200):
    - ``fix_u_probabilities`` defaults True — the unbiased random-sampling u
      estimates are kept; EM's in-block u is biased by the blocking condition.
    - The session prior is initialized to the blocking-ADJUSTED global lambda:
      prob_to_bf(global) times the Bayes factor of each exact-match level the
      training rule conditions on (em_training_session.py:367-397).
    - Lambda varies during EM unless ``fix_probability_two_random_records_match``,
      but is NOT written back to the model by default. With
      ``populate_probability_two_random_records_match_from_trained_values``
      the write-back REVERSES the blocking adjustment (divides out each
      reversed level's trained Bayes factor — linker.py:383-457) and medians
      across sessions.
    - ``max_pairs`` bounds EM cost on big blocks: a probe at
      ``record_sample_proportion`` estimates the full blocked-pair count; if
      it exceeds max_pairs, records on both sides are hash-sampled at
      p* = sqrt(max_pairs / estimate) (em_sampling.py:143-249).

    Comparisons whose input columns are consumed by the training rule are
    deactivated for this session (em_training_session.py:136-160) — their
    gammas are constant under the block so carry no signal.

    ``estimate_without_term_frequencies=True`` (the reference's fast path,
    expectation_maximisation.py:247-251): pairs compress to agreement-pattern
    counts once and the whole loop runs on the driver.
    ``False``: the E-step scores every pair including TF adjustments — one
    Spark aggregate per iteration over the materialized comparison-vector
    table (the reference's default-path semantics).
    """
    s = linker.settings
    rule = blocking_rule if isinstance(blocking_rule, BlockingRule) else CustomRule(blocking_rule)
    max_iterations = max_iterations or s.max_iterations
    em_convergence = em_convergence or s.em_convergence

    rule_cols = set(rule.columns)
    if not rule_cols:
        logger.warning(
            "EM training rule %r has no recognized equality columns: no "
            "comparisons will be deactivated and the session prior will not "
            "be blocking-adjusted, which biases m estimates if the rule "
            "conditions on a compared column. Write equality rules as "
            "'col_l = col_r' conjunctions or use block_on().",
            rule.description,
        )
    active = [
        c
        for c in s.comparisons
        if not (c.input_columns and rule_cols and set(c.input_columns) & rule_cols)
    ]
    if not active:
        from ..exceptions import EMTrainingException

        raise EMTrainingException(
            "training rule consumes every comparison's columns"
        )
    deactivated = [c for c in s.comparisons if c not in active]
    if deactivated:
        logger.info(
            "EM session: deactivated comparisons %s (columns consumed by rule %r)",
            [c.output_column_name for c in deactivated], rule.description,
        )
    reverse_levels = _levels_to_reverse_blocking_rule(s, rule)

    # -- optional max_pairs record sampling (em_sampling.py:143-249) ----------
    uid = s.unique_id_column_name
    nodes = None  # the linker's own records, blocked as predict blocks them
    sample_info: dict = {"sampling_applied": False, "max_pairs": max_pairs}
    if max_pairs is not None:
        concat = linker.df_concat_with_tf()
        probe, probe_fraction = _sample_records(concat, uid, record_sample_proportion)
        probe_count = block_using_rules(
            probe, [rule], link_type=s.link_type,
            unique_id_column_name=uid,
            source_dataset_column_name=s.source_dataset_column_name
            if s.needs_source_dataset else None,
        ).count()
        p_hat = probe_count / (probe_fraction**2)
        sample_info.update(probe_pair_count=probe_count, estimated_total_pairs=p_hat)
        if probe_count > 0 and p_hat > max_pairs:
            p_star = min(1.0, math.sqrt(max_pairs / p_hat))
            threshold = max(1, int(round(p_star * _EM_SAMPLE_MODULUS)))
            nodes = concat.where(
                F.pmod(F.xxhash64(F.col(uid)), F.lit(_EM_SAMPLE_MODULUS)) < threshold
            )
            sample_info.update(
                sampling_applied=True, p_star=p_star,
                expected_pairs_after_sampling=p_hat * (threshold / _EM_SAMPLE_MODULUS) ** 2,
            )
            logger.info(
                "EM sampling: est. %.0f pairs > max_pairs=%.0f — sampling records "
                "at p*=%.4f", p_hat, max_pairs, p_star,
            )

    # blocked pairs → comparison vectors, then the loop-invariant
    # agreement-pattern aggregation
    cv = linker.comparison_vectors(rules=[rule], nodes=nodes)
    gamma_cols = [c.gamma_column_name for c in active]
    if estimate_without_term_frequencies:
        patterns = cv.groupBy(*gamma_cols).agg(F.count(F.lit(1)).alias("pattern_count"))
        rows = patterns.collect()  # O(prod levels) rows — tiny
        # sorted, so the E-step's float sums do not depend on the gamma
        # frame's partitioning
        counts = sorted(
            (tuple(r[g] for g in gamma_cols), r["pattern_count"]) for r in rows
        )
        em_cv = None
    else:
        # with-TF path: keep gamma + tf columns only, materialize (the loop
        # re-scans this table every iteration; released when the session ends)
        keep = list(gamma_cols)
        for comp in active:
            for c in comp.tf_adjustment_input_columns:
                keep += [f"{comp.tf_prefix}{c}_l", f"{comp.tf_prefix}{c}_r"]
        keep = [c for c in dict.fromkeys(keep) if c in cv.columns]
        em_cv = linker.materialization.materialize(cv.select(*keep), "em_cv")
        counts = None

    # init params from current settings (defaults if unset)
    m: dict[tuple[int, int], float] = {}
    u: dict[tuple[int, int], float] = {}
    for ci, comp in enumerate(active):
        nlev = comp.num_levels
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            k = lv.comparison_vector_value
            m[(ci, k)] = lv.m_probability if lv.m_probability is not None else (
                0.9 if k == nlev - 1 else 0.1 / max(nlev - 1, 1)
            )
            u[(ci, k)] = lv.u_probability if lv.u_probability is not None else (
                0.1 if k == nlev - 1 else 0.9 / max(nlev - 1, 1)
            )
    # session prior = global lambda pushed through the blocking condition:
    # each exact-match level the rule conditions on multiplies the prior's
    # Bayes factor (em_training_session.py:161-163, 367-397)
    lam_bf = _prob_to_bayes_factor(s.probability_two_random_records_match)
    for comp, lv in reverse_levels:
        if lv.has_probabilities:
            lam_bf *= lv.bayes_factor
        else:
            logger.warning(
                "EM session: cannot blocking-adjust lambda through %s (no m/u "
                "set on its exact-match level yet)", comp.output_column_name,
            )
    session_lam = bayes_factor_to_prob(lam_bf)

    # pre-loop parameter snapshot: the reference's
    # _core_model_settings_history[0] is the settings BEFORE iteration 1
    # (em_training_session.py:282-330), which the interactive history charts
    # show at slider position 0
    initial_snapshot = {"lambda": session_lam, "m": dict(m), "u": dict(u)}

    history = []
    try:
        for it in range(max_iterations):
            # E step (predict.py:135-200 semantics)
            new_m = {k: 0.0 for k in m}
            new_u = {k: 0.0 for k in u}
            m_tot = {ci: 0.0 for ci in range(len(active))}
            u_tot = {ci: 0.0 for ci in range(len(active))}
            lam_num = 0.0
            lam_den = 0.0
            if counts is not None:
                for gammas, cnt in counts:
                    bf = 1.0
                    for ci in range(len(active)):
                        g = gammas[ci]
                        if g == -1:
                            continue
                        bf *= m[(ci, g)] / max(u[(ci, g)], 1e-300)
                    prior_odds = session_lam / (1 - session_lam)
                    odds = prior_odds * bf
                    p = odds / (1 + odds)
                    lam_num += p * cnt
                    lam_den += cnt
                    for ci in range(len(active)):
                        g = gammas[ci]
                        if g == -1:
                            continue
                        new_m[(ci, g)] += p * cnt
                        new_u[(ci, g)] += (1 - p) * cnt
                        m_tot[ci] += p * cnt
                        u_tot[ci] += (1 - p) * cnt
            else:
                # with-TF path: score every pair with current params incl. TF
                # adjustments, aggregate expected counts in ONE Spark job
                row = em_cv.agg(*_em_tf_aggs(active, m, u, session_lam)).collect()[0].asDict()
                lam_num = row["__lam_num"] or 0.0
                lam_den = row["__lam_den"] or 0.0
                for ci in range(len(active)):
                    for lv in active[ci].comparison_levels:
                        if lv.is_null_level:
                            continue
                        k = lv.comparison_vector_value
                        mn = row[f"__m_{ci}_{k}"] or 0.0
                        un = row[f"__u_{ci}_{k}"] or 0.0
                        new_m[(ci, k)] += mn
                        new_u[(ci, k)] += un
                        m_tot[ci] += mn
                        u_tot[ci] += un
            # M step: normalise within comparison (expectation_maximisation.py:89-118)
            max_delta = 0.0
            for key in list(new_m):
                ci, k = key
                nm = new_m[key] / m_tot[ci] if m_tot[ci] > 0 else m[key]
                nu = new_u[key] / u_tot[ci] if u_tot[ci] > 0 else u[key]
                if not fix_m_probabilities:
                    max_delta = max(max_delta, abs(nm - m[key]))
                    m[key] = max(nm, 1e-12)
                if not fix_u_probabilities:
                    max_delta = max(max_delta, abs(nu - u[key]))
                    u[key] = max(nu, 1e-12)
            if not fix_probability_two_random_records_match:
                new_lam = lam_num / lam_den if lam_den else session_lam
                # clamp: p rounds to exactly 1.0 in float64 once a pattern's
                # odds exceed ~2^53 (a few strong comparisons suffice); an
                # unclamped lambda of 1.0 divides by zero in the next E-step
                new_lam = min(max(new_lam, 1e-12), 1 - 1e-12)
                max_delta = max(max_delta, abs(new_lam - session_lam))
                session_lam = new_lam
            history.append(
                {
                    "iteration": it,
                    "max_delta": max_delta,
                    "lambda": session_lam,
                    # per-iteration parameter snapshots (reference
                    # em_training_session.py keeps _iteration_history_records;
                    # splink2-parity tests compare these trajectories)
                    "m": {
                        f"{active[ci].output_column_name}[{k}]": v
                        for (ci, k), v in m.items()
                    },
                    "u": {
                        f"{active[ci].output_column_name}[{k}]": v
                        for (ci, k), v in u.items()
                    },
                }
            )
            logger.info("EM iteration %d: max_delta=%.3g lambda=%.4f", it, max_delta, session_lam)
            if max_delta < em_convergence:
                break
    finally:
        if em_cv is not None:
            linker.materialization.release(em_cv)

    # write back (median across sessions via fold_trained_values)
    for ci, comp in enumerate(active):
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            k = lv.comparison_vector_value
            if not fix_m_probabilities:
                lv.add_trained_m(m[(ci, k)])
            if not fix_u_probabilities:
                lv.add_trained_u(u[(ci, k)])
            lv.fold_trained_values()
    if populate_probability_two_random_records_match_from_trained_values:
        # reverse the blocking adjustment before any global write-back
        # (reference linker.py:383-457): divide the session lambda's Bayes
        # factor by each reversed level's trained (or default) Bayes factor,
        # then median the reciprocal estimates across sessions
        import statistics

        bf = _prob_to_bayes_factor(session_lam)
        for comp, lv in reverse_levels:
            if lv._m_estimates and lv._u_estimates:
                rbf = statistics.median(lv._m_estimates) / max(
                    statistics.median(lv._u_estimates), 1e-300
                )
            elif lv.has_probabilities:
                rbf = lv.bayes_factor
            else:
                continue
            bf = bf / rbf
        recip = 1.0 / bayes_factor_to_prob(bf)
        if not hasattr(linker, "_em_lambda_recips"):
            linker._em_lambda_recips = []
        linker._em_lambda_recips.append(recip)
        s.probability_two_random_records_match = 1.0 / statistics.median(
            linker._em_lambda_recips
        )
    # per-level metadata the iteration-history charts need, keyed like the
    # history's "name[k]" strings (reference parameters_as_detailed_records)
    level_meta = {}
    for ci, comp in enumerate(active):
        for lv in comp.comparison_levels:
            if lv.is_null_level:
                continue
            k = lv.comparison_vector_value
            level_meta[f"{comp.output_column_name}[{k}]"] = {
                "comparison_name": comp.output_column_name,
                "comparison_sort_order": ci,
                "comparison_vector_value": k,
                "label_for_charts": lv.label_for_charts,
                "sql_condition": (lv.spec or {}).get(
                    "sql_condition", lv.label_for_charts
                ),
            }

    session = EMTrainingSession(
        {
            "m": {f"{active[ci].output_column_name}[{k}]": v for (ci, k), v in m.items()},
            "u": {f"{active[ci].output_column_name}[{k}]": v for (ci, k), v in u.items()},
            "lambda": session_lam,
            "history": history,
            "sample_info": sample_info,
        }
    )
    session._initial = {
        "lambda": initial_snapshot["lambda"],
        "m": {
            f"{active[ci].output_column_name}[{k}]": v
            for (ci, k), v in initial_snapshot["m"].items()
        },
        "u": {
            f"{active[ci].output_column_name}[{k}]": v
            for (ci, k), v in initial_snapshot["u"].items()
        },
    }
    session._level_meta = level_meta
    session._blocking_rule_text = rule.description
    return session


class EMTrainingSession(dict):
    """EM session result: the plain result dict every existing caller
    indexes, plus the reference's three iteration-history chart methods
    (em_training_session.py:432-468).  Iteration 0 is the pre-loop initial
    parameters, matching the reference's settings-history convention."""

    _initial: dict
    _level_meta: dict
    _blocking_rule_text: str

    def _snapshots(self):
        yield 0, self._initial
        for entry in self.get("history", ()):
            yield entry["iteration"] + 1, entry

    def _iteration_history_records(self) -> list:
        import math

        out = []
        for it, snap in self._snapshots():
            lam = snap["lambda"]
            for key, meta in self._level_meta.items():
                mv = snap["m"].get(key)
                uv = snap["u"].get(key)
                rec = {
                    "iteration": it,
                    "probability_two_random_records_match": lam,
                    "m_probability": mv,
                    "u_probability": uv,
                    "bayes_factor": None,
                    "log2_bayes_factor": None,
                    **meta,
                }
                if mv is not None and uv is not None:
                    bf = mv / max(uv, 1e-300)
                    rec["bayes_factor"] = bf
                    rec["log2_bayes_factor"] = math.log2(max(bf, 1e-300))
                out.append(rec)
        return out

    def _lambda_history_records(self) -> list:
        return [
            {
                "iteration": it,
                "probability_two_random_records_match": snap["lambda"],
                "probability_two_random_records_match_reciprocal": (
                    1.0 / snap["lambda"] if snap["lambda"] else None
                ),
            }
            for it, snap in self._snapshots()
        ]

    def probability_two_random_records_match_iteration_chart(self):
        from .chart_specs import (
            probability_two_random_records_match_iteration_spec,
        )

        return probability_two_random_records_match_iteration_spec(
            self._lambda_history_records()
        )

    def match_weights_interactive_history_chart(self):
        from .chart_specs import match_weights_interactive_history_spec

        return match_weights_interactive_history_spec(
            self._iteration_history_records(),
            blocking_rule_text=self._blocking_rule_text,
        )

    def m_u_values_interactive_history_chart(self):
        from .chart_specs import m_u_parameters_interactive_history_spec

        return m_u_parameters_interactive_history_spec(
            self._iteration_history_records()
        )
