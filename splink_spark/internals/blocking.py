"""Blocking: candidate-pair generation by self-join / cross-dataset join.

Reference semantics: splink/internals/blocking.py —
- per-rule join ``l JOIN r ON <rule> WHERE uid_l < uid_r [AND src_l != src_r]``
  emitting only ``(match_key, join_key_l, join_key_r)`` (:193-226); the
  scorers' blocking instead carries the compared columns through the join
  (``output_columns``, comparison_vectors.build_pairs_with_columns);
- multi-rule dedup: rule k adds ``AND NOT (coalesce(rule_1,false) OR ...)``
  (:158-191, 747-830), results unioned with match_key = rule index;
- exploding rules unnest array columns on both sides first, dedup the distinct
  id pairs, then take min(match_key) across rules (:333-600, 814-827);
- two-dataset link_only splits the concat and does a plain inner join
  (:637-659).

Native rewrite: the join inputs are the concat DataFrame with all columns
suffixed ``_l`` / ``_r``; an equality rule therefore becomes a Catalyst-visible
equi-join key (sort-merge / shuffled-hash / broadcast chosen by AQE). Pure
inequality rules degrade to BroadcastNestedLoopJoin exactly as the reference
warns — surfaced via blocking_analysis counts before execution.
"""

from __future__ import annotations

import re
from typing import Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .column_expression import ColumnExpression
from .misc import calculate_cartesian, row_count

ColSpec = Union[str, ColumnExpression]


class BlockingRule:
    """A join condition between the ``_l`` and ``_r`` suffixed sides.

    ``condition`` is a lazy zero-arg factory returning the boolean Column.
    ``exploded_columns`` lists array columns to ``F.explode`` on both sides
    before joining (ExplodingBlockingRule, blocking.py:333-484).
    ``salting_partitions`` > 1 splits the rule into that many sub-joins on a
    deterministic salt key to spread a skewed blocking key across tasks
    (Spark-only feature in the reference; SaltedBlockingRule).
    """

    def __init__(
        self,
        condition: Callable[[], Column],
        description: str,
        exploded_columns: Sequence[str] = (),
        salting_partitions: int = 1,
        columns: Sequence[str] = (),
    ):
        self._condition = condition
        self.description = description
        self.exploded_columns = list(exploded_columns)
        self.salting_partitions = salting_partitions
        # raw input columns the rule's predicate consumes, when known —
        # used by EM training to deactivate comparisons the training rule
        # conditions on (em_training_session.py:136-160)
        self.columns = list(columns)
        # builder spec for JSON round-trip (set by the DSL constructors)
        self.spec: Optional[dict] = None
        # the equi-join key expressions (ColumnExpression list) when the rule
        # is pure equality blocking — powers the pre-filter blocking analysis
        # (reference blocking_analysis.py:78-190 `_equi_join_conditions`)
        self.key_expressions: list[ColumnExpression] = []

    def condition(self) -> Column:
        return self._condition()

    def __repr__(self) -> str:  # pragma: no cover
        return f"BlockingRule({self.description!r})"


# -- user-facing DSL (reference blocking_rule_library.py:22-204) --------------


def block_on(
    *col_specs: ColSpec,
    salting_partitions: int = 1,
    arrays_to_explode: Optional[Sequence[str]] = None,
) -> BlockingRule:
    """Equality blocking on one or more (possibly transformed) columns.

    Reference parity (blocking_rule_library.py:162-210): a string spec that
    is not a bare column name is treated as a SQL snippet over base column
    names (``block_on("substr(surname,1,2)")``); ``arrays_to_explode``
    unnests the named array columns on both sides before joining."""
    def _instantiate(c):
        # SQL-snippet detection: only strings with actual SQL structure —
        # a bare name with spaces/dots is still a column reference
        if isinstance(c, str) and any(ch in c for ch in "()+-*/=<>'\","):
            from .column_expression import SqlColumnExpression

            return SqlColumnExpression(c)
        return ColumnExpression.instantiate(c)

    ces = [_instantiate(c) for c in col_specs]

    # one parse: a key matches null-safely and is not null on the left
    sql = " AND ".join(
        f"({ce.sql_l()} <=> {ce.sql_r()} AND {ce.sql_l()} IS NOT NULL)" for ce in ces
    )

    def cond() -> Column:
        return F.expr(sql)

    desc = " AND ".join(f"l.{ce.name} = r.{ce.name}" for ce in ces)
    rule = BlockingRule(
        cond,
        desc,
        salting_partitions=salting_partitions,
        columns=[ce.name for ce in ces if ce.is_pure_column_reference],
        exploded_columns=list(arrays_to_explode or ()),
    )
    rule.spec = {
        "builder": "block_on",
        "args": [ce.name if ce.is_pure_column_reference else {"__ce__": ce.as_dict()} for ce in ces],
        "kwargs": {
            "salting_partitions": salting_partitions,
            **({"arrays_to_explode": list(arrays_to_explode)} if arrays_to_explode else {}),
        },
    }
    # exploding rules block on array ELEMENTS — grouping nodes by the raw
    # array value would make the pre-filter estimator report near-zero
    # counts, so expose the keys separately: the estimator explodes first
    if arrays_to_explode:
        rule.key_expressions = []
        rule.exploded_key_expressions = ces
    else:
        rule.key_expressions = ces
    return rule


def _equality_columns_from_sql(sql: str) -> list:
    """Base column names when ``sql`` is a pure conjunction of same-column
    equality conditions (``first_name_l = first_name_r`` or the reference's
    ``l.first_name = r.first_name``), else ``[]`` — the safe answer: EM then
    deactivates nothing and applies no blocking adjustment (reference parses
    equi-join conditions out of rule SQL, blocking_analysis.py:78-120)."""
    import re

    # plain '=' ONLY: '<=>' (null-safe equality) also joins every NULL row
    # to every other NULL row, a block the per-key cardinality estimator and
    # EM's exact-match blocking adjustment cannot see — claiming its columns
    # would silently mis-estimate, so it parses as "no recognized columns"
    # identifiers may be bare words, backticked, or double-quoted (the
    # reference's quoting style) — quoted forms admit spaces
    ident = r'(?:`([^`]+)`|"([^"]+)"|(\w+))'
    pat_suffix = re.compile(rf"^\s*{ident}\s*=\s*{ident}\s*$")
    pat_alias = re.compile(rf'^\s*"?l"?\.{ident}\s*=\s*"?r"?\.{ident}\s*$')

    def _one(groups):
        return next((g for g in groups if g is not None), None)

    cols = []
    for part in re.split(r"(?i)\s+and\s+", sql.strip()):
        part = part.strip()
        if part.startswith("(") and part.endswith(")"):
            part = part[1:-1].strip()
        m = pat_alias.match(part)
        if m:
            a, b = _one(m.groups()[:3]), _one(m.groups()[3:])
            if a is None or a != b:
                return []
            cols.append(a)
            continue
        m = pat_suffix.match(part)
        if m:
            a, b = _one(m.groups()[:3]), _one(m.groups()[3:])
            if (
                a is None or b is None
                or not a.endswith("_l") or not b.endswith("_r")
                or a[:-2] != b[:-2]
            ):
                return []
            cols.append(a[:-2])
            continue
        return []
    return cols


def _normalise_rule_sql(sql: str) -> str:
    """Translate reference-splink blocking-rule SQL to this engine's column
    convention: the reference writes ``l.first_name = r.first_name`` (table
    aliases over two scans); here the pair table carries suffixed columns, so
    it becomes ``first_name_l = first_name_r``. Double-quoted identifiers are
    rewritten to backticks for Spark's parser.

    Rewrites are applied only outside single-quoted string literals (a
    literal ``'l.com'`` must survive untouched), and only when the SQL
    actually uses the reference's ``l.`` / ``r.`` alias convention — SQL
    already written for this engine (suffixed columns, double quotes as
    Spark string literals) passes through verbatim."""
    # odd indexes are single-quoted literal spans ('' is the SQL escape;
    # Spark's parser also accepts backslash escapes, so \' must not close
    # the span — otherwise the remainder of the literal lands in a code
    # span and gets rewritten)
    spans = re.split(r"('(?:[^'\\]|\\.|'')*')", sql)
    if not any(
        re.search(r'(\b[lr]\.["\w`])|("(?:l|r)"\.)', s)
        for i, s in enumerate(spans)
        if i % 2 == 0
    ):
        return sql
    out = []
    for i, s in enumerate(spans):
        if i % 2 == 0:
            # alias + quoted identifier (spaces allowed): l."SUR name" or
            # "l"."SUR name" → `SUR name_l`
            s = re.sub(
                r'\b([lr])\."([^"]+)"',
                lambda m: f"`{m.group(2)}_{m.group(1)}`",
                s,
            )
            s = re.sub(
                r'"([lr])"\.(?:"([^"]+)"|(\w+))',
                lambda m: f"`{(m.group(2) or m.group(3))}_{m.group(1)}`",
                s,
            )
            # backtick-quoted aliased identifiers: l.`SUR name` → `SUR name_l`
            # (the alias gate admits the backtick form, so it must be
            # rewritten here or it would reach Spark with an unresolved
            # 'l' alias)
            s = re.sub(
                r"\b([lr])\.`([^`]+)`",
                lambda m: f"`{m.group(2)}_{m.group(1)}`",
                s,
            )
            s = re.sub(r'"([A-Za-z_][A-Za-z0-9_ ]*)"', r"`\1`", s)
            s = re.sub(r"\bl\.(\w+)", r"\1_l", s)
            s = re.sub(r"\br\.(\w+)", r"\1_r", s)
        out.append(s)
    return "".join(out)


def CustomRule(
    sql_condition: str,
    arrays_to_explode: Optional[Sequence[str]] = None,
    salting_partitions: int = 1,
) -> BlockingRule:
    """Arbitrary SQL fragment over ``*_l`` / ``*_r`` columns
    (blocking_rule_library CustomRule). ``arrays_to_explode`` /
    ``salting_partitions`` mirror the reference's settings-dict keys.
    Reference-style ``l.col = r.col`` alias syntax is accepted anywhere a
    rule string is (normalised here, the single chokepoint, so every caller
    — settings dicts, training rules, analysis helpers — behaves alike); the
    original string is kept as the rule's description and serialized form."""
    eq_cols = _equality_columns_from_sql(sql_condition)
    exec_sql = _normalise_rule_sql(sql_condition)
    if eq_cols and '"' in exec_sql:
        # _equality_columns_from_sql parsed double-quoted tokens as
        # IDENTIFIERS (the reference's quoting style), e.g.
        # '"city_l" = "city_r"' — but Spark's parser reads double quotes as
        # string literals, so passing that through would execute a
        # constant-false comparison of two strings while the rule's metadata
        # claims an equality on city. eq_cols non-empty guarantees the whole
        # SQL is a pure conjunction of identifier equalities (no string
        # literals possible), so the rewrite is unambiguous.
        exec_sql = re.sub(r'"([^"]+)"', r"`\1`", exec_sql)
    rule = BlockingRule(
        lambda: F.expr(exec_sql),
        sql_condition,
        columns=eq_cols,
        exploded_columns=list(arrays_to_explode or ()),
        salting_partitions=salting_partitions,
    )
    kwargs = {}
    if arrays_to_explode:
        kwargs["arrays_to_explode"] = list(arrays_to_explode)
    if salting_partitions != 1:
        kwargs["salting_partitions"] = salting_partitions
    rule.spec = {"builder": "CustomRule", "args": [sql_condition], "kwargs": kwargs}
    if eq_cols:
        # pure equality blocking: expose the keys so the pre-filter
        # cardinality estimator works for string rules too
        rule.key_expressions = [ColumnExpression.instantiate(c) for c in eq_cols]
    return rule


def rule_from_spec(spec: dict) -> BlockingRule:
    from .column_expression import ColumnExpression

    if "builder" not in spec and "blocking_rule" in spec:
        # reference-format dict (BlockingRule.as_dict shape): blocking_rule
        # SQL + arrays_to_explode / salting_partitions (+ sql_dialect,
        # ignored — conditions are normalised to this engine's convention)
        return CustomRule(
            spec["blocking_rule"],
            arrays_to_explode=spec.get("arrays_to_explode"),
            salting_partitions=int(spec.get("salting_partitions", 1)),
        )
    if spec["builder"] == "block_on":
        args = [
            ColumnExpression.from_dict(a["__ce__"]) if isinstance(a, dict) else a
            for a in spec["args"]
        ]
        return block_on(*args, **spec.get("kwargs", {}))
    if spec["builder"] == "CustomRule":
        return CustomRule(spec["args"][0], **spec.get("kwargs", {}))
    raise ValueError(f"unknown rule builder {spec['builder']!r}")


def cross_rule() -> BlockingRule:
    """No blocking — full cartesian (reference blocking.py:793-798 '1=1')."""
    return BlockingRule(lambda: F.lit(True), "1=1")


def And(*rules: BlockingRule) -> BlockingRule:
    return BlockingRule(
        lambda: _fold([r.condition() for r in rules], lambda a, b: a & b),
        " AND ".join(r.description for r in rules),
        exploded_columns=[c for r in rules for c in r.exploded_columns],
    )


def Or(*rules: BlockingRule) -> BlockingRule:
    return BlockingRule(
        lambda: _fold([r.condition() for r in rules], lambda a, b: a | b),
        " OR ".join(r.description for r in rules),
        exploded_columns=[c for r in rules for c in r.exploded_columns],
    )


def Not(rule: BlockingRule) -> BlockingRule:
    return BlockingRule(lambda: ~rule.condition(), f"NOT ({rule.description})")


def exploding_rule(rule: BlockingRule, array_columns: Sequence[str]) -> BlockingRule:
    return BlockingRule(
        rule._condition, rule.description, exploded_columns=list(array_columns)
    )


def _fold(cols, op):
    out = cols[0]
    for c in cols[1:]:
        out = op(out, c)
    return out


# -- the blocking join --------------------------------------------------------


def suffix_all(df: DataFrame, suffix: str) -> DataFrame:
    # one toDF, not a Column per name: each pyspark Column costs py4j calls
    return df.toDF(*[f"{c}{suffix}" for c in df.columns])


def _pair_filter(link_type: str, uid: str, source_dataset: Optional[str]) -> Column:
    """WHERE-clause generation (reference blocking.py:698-744): dedupe keeps
    the lower-id pair once; link_only additionally requires different source
    datasets (ordered by (source_dataset, uid) so each cross-dataset pair
    appears once)."""
    uid_l, uid_r = F.col(f"{uid}_l"), F.col(f"{uid}_r")
    if link_type == "dedupe_only" or source_dataset is None:
        return uid_l < uid_r
    sd_l, sd_r = F.col(f"{source_dataset}_l"), F.col(f"{source_dataset}_r")
    ordered = (sd_l < sd_r) | ((sd_l == sd_r) & (uid_l < uid_r))
    if link_type == "link_only":
        return ordered & (sd_l != sd_r)
    return ordered  # link_and_dedupe


def block_using_rules(
    nodes: DataFrame,
    rules: Sequence[BlockingRule],
    link_type: str = "dedupe_only",
    unique_id_column_name: str = "unique_id",
    source_dataset_column_name: Optional[str] = None,
    nodes_right: Optional[DataFrame] = None,
    output_columns: Optional[Sequence[str]] = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """Candidate pairs ``(match_key, join_key_l, join_key_r)``.

    ``nodes_right`` enables the two-dataset link_only split (blocking.py:
    637-659): join left table to right table directly instead of self-joining
    the union and filtering src_l != src_r.

    ``output_columns`` switches to carry-through output: instead of the
    ids-only pair table, the named base columns are emitted suffixed
    ``_l`` (all of them) then ``_r`` directly from the join, the column
    order of the junction re-join. Not valid with exploding rules (their
    pair-level dedup must run on ids).

    ``broadcast_right`` hints a broadcast of each rule's right side, so the
    join keeps the left side's partitioning instead of shuffling both.
    """
    uid = unique_id_column_name
    left_raw = nodes
    right_raw = nodes_right if nodes_right is not None else nodes

    if output_columns is not None:
        if any(rule.exploded_columns for rule in rules):
            raise ValueError(
                "carry-through blocking output is not supported with "
                "exploding rules (pair dedup must run on ids)"
            )
        out_cols = [f"{c}_{side}" for side in ("l", "r") for c in output_columns]
    else:
        out_cols = [
            F.col(f"{uid}_l").alias("join_key_l"),
            F.col(f"{uid}_r").alias("join_key_r"),
        ]
        # carry source datasets whenever they exist — uids are only unique per
        # dataset, so the downstream junction join needs (source, uid) keys
        if source_dataset_column_name and source_dataset_column_name in left_raw.columns:
            out_cols = [
                F.col(f"{source_dataset_column_name}_l").alias("source_dataset_l"),
                F.col(f"{source_dataset_column_name}_r").alias("source_dataset_r"),
            ] + out_cols

    results: list[DataFrame] = []
    for k, rule in enumerate(rules):
        df_l, df_r = left_raw, right_raw
        for arr_col in rule.exploded_columns:
            df_l = df_l.withColumn(arr_col, F.explode(arr_col))
            df_r = df_r.withColumn(arr_col, F.explode(arr_col))
        lhs = suffix_all(df_l, "_l")
        rhs = suffix_all(df_r, "_r")

        # multi-rule dedup: AND NOT (coalesce(prev_rule_j, false) OR ...)
        cond = rule.condition()
        for prev in rules[:k]:
            if prev.exploded_columns:
                continue  # exploded rules dedup via min(match_key) below
            cond = cond & ~F.coalesce(prev.condition(), F.lit(False))

        # salting (reference SaltedBlockingRule, Spark-only): widen the join
        # key with a deterministic salt so one giant block spreads across
        # `s` reducers — lhs rows get hash(uid) % s, rhs rows are replicated
        # for every salt value; salt equality joins into the shuffle key.
        if rule.salting_partitions > 1:
            s_parts = rule.salting_partitions
            lhs = lhs.withColumn(
                "__salt_l", F.pmod(F.xxhash64(F.col(f"{uid}_l")), F.lit(s_parts))
            )
            rhs = rhs.withColumn(
                "__salt_r", F.explode(F.sequence(F.lit(0), F.lit(s_parts - 1)))
            ).withColumn("__salt_r", F.col("__salt_r").cast("bigint"))
            cond = cond & (F.col("__salt_l") == F.col("__salt_r"))
        if nodes_right is not None:
            where = F.lit(True)  # distinct tables: every pair valid once
        else:
            where = _pair_filter(link_type, uid, source_dataset_column_name)

        if broadcast_right:
            rhs = F.broadcast(rhs)
        joined = lhs.join(rhs, on=cond & where, how="inner")
        pairs = joined.select(F.lit(str(k)).alias("match_key"), *out_cols)
        if rule.exploded_columns:
            pairs = pairs.distinct()
        results.append(pairs)

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    if any(rule.exploded_columns for rule in rules) and len(rules) > 1:
        # dedup across rules: keep lowest match_key per id pair
        # (reference blocking.py:814-827)
        keys = [c for c in out.columns if c != "match_key"]
        out = out.groupBy(*keys).agg(F.min("match_key").alias("match_key")).select(
            "match_key", *keys
        )
    return out


# modulus for the deterministic record-sampling hash filter used by blocking
# analysis (reference em_sampling.py:20-29 _PROBE_SAMPLE_MODULUS)
_SAMPLE_MODULUS = 10_000


def _sample_records(
    df: DataFrame, uid: str, record_sample_proportion: float
) -> tuple[DataFrame, float]:
    """Deterministic hash sample of records: keep iff
    pmod(xxhash64(uid), M) < ceil(p * M). Returns (sampled_df, actual_fraction)
    — mirrors reference em_sampling.py:65-82."""
    import math as _math

    if not 0 < record_sample_proportion <= 1:
        raise ValueError("record_sample_proportion must be in (0, 1]")
    threshold = min(
        _SAMPLE_MODULUS,
        max(1, _math.ceil(record_sample_proportion * _SAMPLE_MODULUS)),
    )
    if threshold >= _SAMPLE_MODULUS:
        return df, 1.0
    sampled = df.where(
        F.pmod(F.xxhash64(F.col(uid)), F.lit(_SAMPLE_MODULUS)) < threshold
    )
    return sampled, threshold / _SAMPLE_MODULUS


def count_comparisons_per_rule(
    nodes: DataFrame,
    rules: Sequence[BlockingRule],
    link_type: str = "dedupe_only",
    unique_id_column_name: str = "unique_id",
    source_dataset_column_name: Optional[str] = None,
    record_sample_proportion: float = 1.0,
) -> list[dict]:
    """Marginal + cumulative pair count per rule in ONE Spark job
    (reference blocking_analysis.py:350-595
    ``_cumulative_comparisons_to_be_scored_from_blocking_rules``).

    All rules go through a single ``block_using_rules`` call — the per-rule
    joins are unioned with their match_key and counted with one
    ``groupBy(match_key)`` aggregate, so one job covers every rule (the
    reference enqueues one CTE pipeline for the same reason).

    ``record_sample_proportion`` < 1 applies a deterministic hash sample to
    the records on both sides of the join and scales the counts back up by
    1/fraction² (reference default 0.05) — the guard-rail that lets users vet
    a blocking rule without executing the full join.
    """
    uid = unique_id_column_name
    sampled, fraction = _sample_records(nodes, uid, record_sample_proportion)
    pairs = block_using_rules(
        sampled,
        list(rules),
        link_type=link_type,
        unique_id_column_name=uid,
        source_dataset_column_name=source_dataset_column_name,
    )
    counted = {
        r["match_key"]: r["n"]
        for r in pairs.groupBy("match_key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # total possible comparisons: link_only counts per source dataset; every
    # other link type, and nodes without a source dataset, pair all records
    sd = source_dataset_column_name
    if link_type == "link_only" and sd and sd in nodes.columns:
        counts = [r["count"] for r in nodes.groupBy(sd).count().collect()]
        cartesian = calculate_cartesian(counts, link_type)
    else:
        cartesian = calculate_cartesian([row_count(nodes)], "dedupe_only")

    scale = 1.0 / (fraction**2)
    out = []
    cumulative = 0
    for k, rule in enumerate(rules):
        raw = counted.get(str(k), 0)
        if fraction < 1.0 and raw < 1000:
            import warnings

            warnings.warn(
                f"The sampled blocking analysis estimate for blocking rule "
                f"{rule.description!r} is based on {raw:,} sampled pairwise "
                f"comparisons. This is below the recommended minimum of "
                f"1,000, so the estimate may be unstable. Increase "
                f"record_sample_proportion for a more stable estimate.",
                UserWarning,
                stacklevel=2,
            )
        marginal = int(round(raw * scale))
        cumulative += marginal
        out.append(
            {
                "rule": rule.description,
                "blocking_rule": rule.description,
                "match_key": str(k),
                "count": marginal,
                "marginal_comparison_count": marginal,
                "cumulative_comparison_count": cumulative,
                "total_possible_comparison_count": cartesian,
                "record_sample_proportion": fraction,
                "is_estimate": fraction < 1.0,
            }
        )
    return out


def estimate_comparisons_pre_filter(
    nodes: DataFrame,
    rule: BlockingRule,
    link_type: str = "dedupe_only",
    unique_id_column_name: str = "unique_id",
    nodes_right: Optional[DataFrame] = None,
) -> DataFrame:
    """Pre-filter comparison-count estimate WITHOUT executing the blocking
    join (reference blocking_analysis.py:78-190
    ``_count_comparisons_from_blocking_rule_pre_filter_conditions_sqls``):
    group each side by the rule's equi-join key values, then the joined
    per-key ``count_l * count_r`` products are the per-block pair counts.

    Two narrow aggregations + a key-equi-join of the (small) per-key count
    tables — the cost is O(distinct keys), independent of how many pairs the
    rule would generate. This is the scale guard-rail against a runaway rule.

    Returns a DataFrame (key_0..key_k, count_l, count_r, block_count).
    """
    ces = rule.key_expressions
    left = nodes
    right = nodes_right if nodes_right is not None else nodes
    exploded_ces = getattr(rule, "exploded_key_expressions", None)
    if not ces and exploded_ces and rule.exploded_columns:
        # exploding rule: per-ELEMENT counts after unnesting. An
        # OVER-estimate (a pair sharing k elements is counted k times) —
        # exactly what a blow-up guard-rail wants, and the per-key rows
        # still name the skewed element values for n_largest_blocks
        def unnest(df: DataFrame) -> DataFrame:
            for c in rule.exploded_columns:
                df = df.withColumn(c, F.explode(c))
            return df

        left = unnest(left)
        right = unnest(right) if nodes_right is not None else left
        ces = exploded_ces
    if not ces:
        # no equi-join conditions: the estimate is the full cartesian
        spark = nodes.sparkSession
        n_l = left.count()
        n_r = right.count() if nodes_right is not None else n_l
        return spark.createDataFrame(
            [(n_l, n_r, n_l * n_r)], "count_l bigint, count_r bigint, block_count bigint"
        )
    key_aliases = [f"key_{i}" for i in range(len(ces))]

    def keyed_counts(df: DataFrame, count_alias: str) -> DataFrame:
        keys = [ce.on(ce.name).alias(a) for ce, a in zip(ces, key_aliases)]
        # NULL keys never satisfy the equality join, so drop them here
        # (the reference's USING join drops them implicitly)
        not_null = _fold([F.col(a).isNotNull() for a in key_aliases], lambda x, y: x & y)
        return (
            df.select(*keys)
            .where(not_null)
            .groupBy(*key_aliases)
            .agg(F.count(F.lit(1)).alias(count_alias))
        )

    counts_l = keyed_counts(left, "count_l")
    counts_r = (
        keyed_counts(right, "count_r")
        if nodes_right is not None
        else counts_l.select(*key_aliases, F.col("count_l").alias("count_r"))
    )
    return counts_l.join(counts_r, on=key_aliases).select(
        *key_aliases,
        "count_l",
        "count_r",
        (F.col("count_l") * F.col("count_r")).alias("block_count"),
    )


def n_largest_blocks(
    nodes: DataFrame,
    rule: BlockingRule,
    link_type: str = "dedupe_only",
    unique_id_column_name: str = "unique_id",
    n_largest: int = 5,
    nodes_right: Optional[DataFrame] = None,
) -> DataFrame:
    """The blocking-key values responsible for the largest blocks
    (reference blocking_analysis.py:725-784): the pre-filter per-key count
    table ordered by ``count_l * count_r`` descending, limit n.

    This is also the skew diagnostic for cluster runs — the top keys are
    exactly the reducers that will straggle in the blocking shuffle.
    """
    est = estimate_comparisons_pre_filter(
        nodes,
        rule,
        link_type=link_type,
        unique_id_column_name=unique_id_column_name,
        nodes_right=nodes_right,
    )
    return est.orderBy(F.desc("block_count"), *[
        c for c in est.columns if c.startswith("key_")
    ]).limit(n_largest)
