"""Comparison-level library: builders for every level type in the reference
(splink/internals/comparison_level_library.py; class:line cited per builder).

Each builder returns a ``ComparisonLevel`` whose condition is Spark SQL text
over the ``_l``/``_r`` suffixed pair columns, like the reference's
``sql_condition``. Built-in Spark functions are used wherever they exist
(levenshtein, array ops, date math, haversine trig, cosine HOFs); the
similarity metrics, pairwise array metrics and double metaphone are called by
the names ``functions.register_udfs`` registers. Values and names enter the
text only through ``sql_literal`` / ``sql_ident``.
"""

from __future__ import annotations

from typing import Optional, Union

from .column_expression import ColumnExpression, sql_literal
from .comparison_level import ComparisonLevel
from .functions import cosine_similarity, haversine_km

ColSpec = Union[str, ColumnExpression]


def _ce(spec: ColSpec) -> ColumnExpression:
    return ColumnExpression.instantiate(spec)


def _fn_level(fn: str, ce: ColumnExpression, op: str, threshold, label: str) -> ComparisonLevel:
    """``fn(l, r) <op> threshold`` — a metric over the two sides."""
    return ComparisonLevel(
        f"{fn}({ce.sql_l()}, {ce.sql_r()}) {op} {sql_literal(threshold)}", label
    )


# -- core levels (reference :88-404) ----------------------------------------


def NullLevel(col: ColSpec, valid_string_pattern: Optional[str] = None) -> ComparisonLevel:
    """comparison_level_library.py:88 — ``l IS NULL OR r IS NULL``; with a
    pattern, values failing the regex are treated as null first."""
    ce = _ce(col)
    if valid_string_pattern is not None:
        ce = ce.regex_extract(valid_string_pattern)
    return ComparisonLevel(
        f"{ce.sql_l()} IS NULL OR {ce.sql_r()} IS NULL", f"{ce.name} is NULL", is_null_level=True
    )


def ElseLevel() -> ComparisonLevel:
    """comparison_level_library.py:125 — the CASE ELSE arm."""
    return ComparisonLevel("TRUE", "All other comparisons", is_else_level=True)


def CustomLevel(sql_condition: str, label: Optional[str] = None, **kw) -> ComparisonLevel:
    """comparison_level_library.py:138 — user SQL fragment over ``*_l``/``*_r``
    columns, parsed by Spark: the engine's SQL escape hatch."""
    return ComparisonLevel(sql_condition, label or sql_condition, **kw)


def ExactMatchLevel(col: ColSpec, term_frequency_adjustments: bool = False) -> ComparisonLevel:
    """comparison_level_library.py:236."""
    ce = _ce(col)
    lv = ComparisonLevel(
        f"{ce.sql_l()} = {ce.sql_r()}",
        f"Exact match on {ce.name}",
        is_exact_match_level=True,
        tf_adjustment_column=ce.name if term_frequency_adjustments else None,
    )
    lv.exact_match_colnames = [ce.name]
    return lv


def LiteralMatchLevel(
    col: ColSpec, literal_value, literal_datatype: str = "string", side: str = "both"
) -> ComparisonLevel:
    """comparison_level_library.py:295 — column equals a typed literal on
    one or both sides."""
    ce = _ce(col)
    lit = f"CAST({sql_literal(literal_value)} AS {literal_datatype})"
    cond = {
        "left": f"{ce.sql_l()} = {lit}",
        "right": f"{ce.sql_r()} = {lit}",
    }.get(side, f"({ce.sql_l()} = {lit}) AND ({ce.sql_r()} = {lit})")
    return ComparisonLevel(cond, f"{ce.name} = {literal_value!r}")


def ColumnsReversedLevel(col1: ColSpec, col2: ColSpec, symmetrical: bool = False) -> ComparisonLevel:
    """comparison_level_library.py:363 — a_l = b_r (and a_r = b_l if symmetrical)."""
    a, b = _ce(col1), _ce(col2)
    cond = f"{a.sql_l()} = {b.sql_r()}"
    if symmetrical:
        cond = f"({cond}) AND ({a.sql_r()} = {b.sql_l()})"
    return ComparisonLevel(cond, f"Match on reversed cols: {a.name} and {b.name}")


# -- string-distance levels (reference :406-711) -----------------------------


def LevenshteinLevel(col: ColSpec, distance_threshold: int) -> ComparisonLevel:
    """comparison_level_library.py:406 — Spark's native ``levenshtein``."""
    ce = _ce(col)
    return _fn_level("levenshtein", ce, "<=", distance_threshold,
                     f"Levenshtein distance of {ce.name} <= {distance_threshold}")


def DamerauLevenshteinLevel(col: ColSpec, distance_threshold: int) -> ComparisonLevel:
    """comparison_level_library.py:431 — registered UDF (no native Spark fn)."""
    ce = _ce(col)
    return _fn_level("damerau_levenshtein", ce, "<=", float(distance_threshold),
                     f"Damerau-Levenshtein distance of {ce.name} <= {distance_threshold}")


def JaroWinklerLevel(col: ColSpec, distance_threshold: float) -> ComparisonLevel:
    """comparison_level_library.py:458."""
    ce = _ce(col)
    return _fn_level("jaro_winkler", ce, ">=", float(distance_threshold),
                     f"Jaro-Winkler distance of {ce.name} >= {distance_threshold}")


def JaroLevel(col: ColSpec, distance_threshold: float) -> ComparisonLevel:
    """comparison_level_library.py:493."""
    ce = _ce(col)
    return _fn_level("jaro_sim", ce, ">=", float(distance_threshold),
                     f"Jaro distance of {ce.name} >= {distance_threshold}")


def JaccardLevel(col: ColSpec, distance_threshold: float) -> ComparisonLevel:
    """comparison_level_library.py:528 — char-set Jaccard."""
    ce = _ce(col)
    return _fn_level("jaccard", ce, ">=", float(distance_threshold),
                     f"Jaccard distance of {ce.name} >= {distance_threshold}")


def DistanceFunctionLevel(
    col: ColSpec, distance_function_name: str, distance_threshold: float, higher_is_more_similar: bool = True
) -> ComparisonLevel:
    """comparison_level_library.py:563 — arbitrary registered SQL function."""
    ce = _ce(col)
    op = ">=" if higher_is_more_similar else "<="
    return _fn_level(distance_function_name, ce, op, distance_threshold,
                     f"{distance_function_name}({ce.name}) {op} {distance_threshold}")


_PAIRWISE_UDFS = {
    "jaro_winkler": "pairwise_jaro_winkler_max",
    "jaro": "pairwise_jaro_max",
    "jaccard": "pairwise_jaccard_max",
    "damerau_levenshtein": "pairwise_damerau_levenshtein_min",
}


def PairwiseStringDistanceFunctionLevel(
    col: ColSpec, distance_function_name: str, distance_threshold: float
) -> ComparisonLevel:
    """comparison_level_library.py:613 — best score over the cross-product of
    two string arrays. The reference builds nested transform/flatten SQL
    (:671-687); Levenshtein does the same with Spark's native higher-order
    functions. HOF lambdas cannot call Python UDFs, so the other metrics run
    the whole (tiny: alias arrays) cross product inside ONE Arrow-batched
    pandas UDF over the two array columns."""
    ce = _ce(col)
    lower_is_better = distance_function_name in ("levenshtein", "damerau_levenshtein")
    op = "<=" if lower_is_better else ">="
    best_of = "min" if lower_is_better else "max"
    label = f"{best_of} pairwise {distance_function_name}({ce.name}) {op} {distance_threshold}"
    if distance_function_name == "levenshtein":
        best = (f"array_min(flatten(transform({ce.sql_l()}, "
                f"x -> transform({ce.sql_r()}, y -> levenshtein(x, y)))))")
        return ComparisonLevel(f"{best} {op} {sql_literal(distance_threshold)}", label)
    if distance_function_name not in _PAIRWISE_UDFS:
        raise ValueError(f"unknown pairwise distance function {distance_function_name!r}")
    return _fn_level(_PAIRWISE_UDFS[distance_function_name], ce, op, distance_threshold, label)


def PhoneticMatchLevel(col: ColSpec) -> ComparisonLevel:
    """Double-metaphone agreement: any shared code between the two sides'
    [primary, alternate] arrays (the reference jar's Dmetaphone/DmetaphoneAlt
    pair, used by NameComparison comparison_library.py:1005-1090)."""
    ce = _ce(col)
    return ComparisonLevel(
        f"size(array_intersect(double_metaphone({ce.sql_l()}), "
        f"double_metaphone({ce.sql_r()}))) >= 1",
        f"Phonetic (double metaphone) match on {ce.name}",
    )


def SoundexMatchLevel(col: ColSpec) -> ComparisonLevel:
    """Native-JVM soundex agreement (no UDF)."""
    ce = _ce(col)
    return ComparisonLevel(
        f"soundex({ce.sql_l()}) = soundex({ce.sql_r()})", f"Soundex match on {ce.name}"
    )


# -- date/time levels (reference :715-847) -----------------------------------

_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "month": 86400 * 365.25 / 12, "year": 86400 * 365.25}

# strptime (C/DuckDB style) → Spark datetime-pattern tokens; used when a
# reference-style datetime_format like "%Y/%m/%d" reaches a Spark parse
_STRPTIME_TOKENS = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%p": "a",
    "%j": "DDD", "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%z": "xx", "%Z": "zz",
}


def _strptime_to_spark_format(fmt: str) -> str:
    """Convert a strptime-style format (what the reference's DuckDB backend
    takes as ``datetime_format``) to Spark's datetime pattern. Formats with
    no ``%`` are assumed to already be Spark patterns and pass through."""
    if "%" not in fmt:
        return fmt
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok == "%%":
                out.append("%")
            elif tok in _STRPTIME_TOKENS:
                out.append(_STRPTIME_TOKENS[tok])
            else:
                raise ValueError(f"unsupported datetime_format token {tok!r}")
            i += 2
        else:
            ch = fmt[i]
            # literal letters must be quoted in Spark datetime patterns
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def _date_parsed_ce(col: ColSpec, input_is_string: bool, datetime_format):
    ce = _ce(col)
    if datetime_format is not None:
        return ce.try_parse_timestamp(_strptime_to_spark_format(datetime_format))
    if input_is_string:
        return ce.try_parse_iso_timestamp()
    return ce


def _validate_time_metric_threshold(metric: str, threshold: float) -> None:
    if metric not in _SECONDS:
        raise ValueError(
            f"invalid date metric {metric!r}: must be one of {sorted(_SECONDS)}"
        )
    if threshold < 0:
        raise ValueError(f"date threshold must be >= 0, got {threshold}")


def AbsoluteTimeDifferenceLevel(
    col: ColSpec,
    threshold: float,
    metric: str = "day",
    input_is_string: bool = False,
    datetime_format: str = None,
) -> ComparisonLevel:
    """comparison_level_library.py:715 — |epoch_l - epoch_r| <= seconds.

    Uses exact epoch difference (the reference's Spark dialect shortcut to
    datediff-days, dialects.py:493-501, loses sub-day precision; we keep the
    exact semantics the other backends use). Threshold unit conversion
    matches :774-783 (month = 365.25/12 days). ``input_is_string`` parses the
    column first (ISO 8601, or ``datetime_format`` — strptime-style formats
    are translated to Spark patterns), unparseable values → NULL, mirroring
    the reference's ``invalid_dates_as_null`` default."""
    _validate_time_metric_threshold(metric, threshold)
    ce = _date_parsed_ce(col, input_is_string, datetime_format)
    name = _ce(col).name
    seconds = float(threshold) * _SECONDS[metric]
    epoch_l, epoch_r = (f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)" for c in (ce.sql_l(), ce.sql_r()))
    return ComparisonLevel(
        f"abs({epoch_l} - {epoch_r}) <= {sql_literal(seconds)}",
        f"Abs difference of '{name} <= {threshold} {metric}'",
    )


def AbsoluteDateDifferenceLevel(
    col: ColSpec,
    threshold: float,
    metric: str = "day",
    input_is_string: bool = False,
    datetime_format: str = None,
) -> ComparisonLevel:
    """comparison_level_library.py:839 — same, over dates."""
    return AbsoluteTimeDifferenceLevel(
        col, threshold, metric,
        input_is_string=input_is_string, datetime_format=datetime_format,
    )


def DistanceInKMLevel(
    lat_col: ColSpec, long_col: ColSpec, km_threshold: float, not_null: bool = False
) -> ComparisonLevel:
    """comparison_level_library.py:849 — haversine great-circle distance."""
    lat, lon = _ce(lat_col), _ce(long_col)
    sides = [lat.sql_l(), lon.sql_l(), lat.sql_r(), lon.sql_r()]
    d = haversine_km(*(f"CAST({c} AS DOUBLE)" for c in sides))
    cond = f"{d} <= {sql_literal(km_threshold)}"
    if not_null:
        cond += "".join(f" AND {c} IS NOT NULL" for c in (sides[0], sides[2], sides[1], sides[3]))
    return ComparisonLevel(cond, f"Distance in km <= {km_threshold}")


# -- array levels (reference :907-1046) --------------------------------------


def CosineSimilarityLevel(col: ColSpec, similarity_threshold: float) -> ComparisonLevel:
    """comparison_level_library.py:907 — native HOF cosine (dialects.py:409-427)."""
    ce = _ce(col)
    return ComparisonLevel(
        f"{cosine_similarity(ce.sql_l(), ce.sql_r())} >= {sql_literal(float(similarity_threshold))}",
        f"Cosine similarity of {ce.name} >= {similarity_threshold}",
    )


def ArrayIntersectLevel(col: ColSpec, min_intersection: int = 1) -> ComparisonLevel:
    """comparison_level_library.py:957 — size(array_intersect) >= n."""
    ce = _ce(col)
    return ComparisonLevel(
        f"size(array_intersect({ce.sql_l()}, {ce.sql_r()})) >= {sql_literal(min_intersection)}",
        f"Array intersection size >= {min_intersection}",
    )


def ArraySubsetLevel(col: ColSpec, empty_is_subset: bool = False) -> ComparisonLevel:
    """comparison_level_library.py:1003 — one side's set contained in the other."""
    ce = _ce(col)
    smaller = f"least(size({ce.sql_l()}), size({ce.sql_r()}))"
    cond = f"size(array_intersect({ce.sql_l()}, {ce.sql_r()})) = {smaller}"
    if not empty_is_subset:
        cond = f"({cond}) AND ({smaller} > 0)"
    return ComparisonLevel(cond, f"Array subset on {ce.name}")


# -- numeric levels (reference :1049-1120) -----------------------------------


def PercentageDifferenceLevel(col: ColSpec, percentage_threshold: float) -> ComparisonLevel:
    """comparison_level_library.py:1049 — abs(l-r)/greatest(l,r) < p."""
    l, r = _as_double(_ce(col))
    return ComparisonLevel(
        f"abs({l} - {r}) / greatest({l}, {r}) < {sql_literal(float(percentage_threshold))}",
        f"Percentage difference of '{_ce(col).name}' within {percentage_threshold:.2%}",
    )


def AbsoluteDifferenceLevel(col: ColSpec, difference_threshold: float) -> ComparisonLevel:
    """comparison_level_library.py:1088 — abs(l-r) <= t."""
    l, r = _as_double(_ce(col))
    return ComparisonLevel(
        f"abs({l} - {r}) <= {sql_literal(float(difference_threshold))}",
        f"Absolute difference of '{_ce(col).name}' <= {difference_threshold}",
    )


def _as_double(ce: ColumnExpression) -> tuple[str, str]:
    return f"CAST({ce.sql_l()} AS DOUBLE)", f"CAST({ce.sql_r()} AS DOUBLE)"


# -- composition (reference comparison_level_composition.py) -----------------


def And(*levels: ComparisonLevel) -> ComparisonLevel:
    if not levels:
        raise ValueError("And() requires at least one comparison level")
    label = " AND ".join(lv.label_for_charts for lv in levels)
    return ComparisonLevel(
        " AND ".join(f"({lv.sql_condition})" for lv in levels),
        f"({label})",
        is_null_level=all(lv.is_null_level for lv in levels),
    )


def Or(*levels: ComparisonLevel) -> ComparisonLevel:
    if not levels:
        raise ValueError("Or() requires at least one comparison level")
    label = " OR ".join(lv.label_for_charts for lv in levels)
    return ComparisonLevel(
        " OR ".join(f"({lv.sql_condition})" for lv in levels),
        f"({label})",
        is_null_level=all(lv.is_null_level for lv in levels),
    )


def Not(level: ComparisonLevel) -> ComparisonLevel:
    if level.is_null_level:
        raise ValueError("Cannot negate a null level")
    return ComparisonLevel(f"NOT ({level.sql_condition})", f"NOT ({level.label_for_charts})")


# ---------------------------------------------------------------------------
# builder-spec recording for JSON model round-trip
# ---------------------------------------------------------------------------

_BUILDER_NAMES = [
    "NullLevel", "ElseLevel", "CustomLevel", "ExactMatchLevel",
    "LiteralMatchLevel", "ColumnsReversedLevel", "LevenshteinLevel",
    "DamerauLevenshteinLevel", "JaroWinklerLevel", "JaroLevel", "JaccardLevel",
    "DistanceFunctionLevel", "AbsoluteTimeDifferenceLevel",
    "AbsoluteDateDifferenceLevel", "DistanceInKMLevel", "CosineSimilarityLevel",
    "ArrayIntersectLevel", "ArraySubsetLevel", "PercentageDifferenceLevel",
    "AbsoluteDifferenceLevel", "And", "Or", "Not",
    "PhoneticMatchLevel", "SoundexMatchLevel",
]


def _ser(x):
    if isinstance(x, ColumnExpression):
        return {"__ce__": x.as_dict()}
    if isinstance(x, ComparisonLevel):
        return {"__level__": level_spec_dict(x)}
    return x


def _deser(x):
    if isinstance(x, dict) and "__ce__" in x:
        return ColumnExpression.from_dict(x["__ce__"])
    if isinstance(x, dict) and "__level__" in x:
        return level_from_spec_dict(x["__level__"])
    return x


def level_spec_dict(lv: ComparisonLevel) -> dict:
    d = lv.as_dict()
    if getattr(lv, "spec", None):
        d["spec"] = lv.spec
    return d


def _normalise_identifier_quoting(sql: str) -> str:
    """Reference settings JSON carries dialect-quoted identifiers
    (``"first_name_l"`` — possibly with spaces, ``"SUR name_l"``); Spark
    quotes with backticks and reads double quotes as string literals.
    Rewrite double-quoted IDENTIFIERS (word characters and interior spaces,
    starting with a letter/underscore) to backticks — real string literals
    in splink conditions are single-quoted, so this is safe."""
    import re

    return re.sub(r'"([A-Za-z_][A-Za-z0-9_ ]*)"', r"`\1`", sql)


def _level_from_reference_dict(d: dict) -> ComparisonLevel:
    """Accept a genuine reference-splink settings level dict (sql_condition
    string + probabilities — reference comparison_level.py as_dict shape), so
    models interchange at the JSON level (ADVICE r1). The condition becomes
    the level's ``sql_condition`` exactly like ``CustomLevel``'s."""
    import re

    sql = d.get("sql_condition")
    if sql is None:
        raise ValueError(f"level dict has neither 'spec' nor 'sql_condition': {d}")
    label = d.get("label_for_charts")
    if sql.strip().upper() == "ELSE":
        return ElseLevel()
    sql = _normalise_identifier_quoting(sql)
    # recognise plain-equality conditions — single-column OR a conjunction
    # of equalities like "(a_l = a_r) AND (b_l = b_r)" — so EM's
    # blocking-adjustment and TF logic see them as exact-match levels
    # (reference comparison_level.py:587-662 sqlglot signature detection;
    # asserted by tests/test_compound_comparison_levels.py)
    cols = _conjunction_of_equalities(sql)
    lv = CustomLevel(
        sql,
        label or sql,
        is_null_level=bool(d.get("is_null_level", False)),
        is_exact_match_level=bool(cols),
    )
    lv.exact_match_colnames = cols
    return lv


def _peel_outer_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        wraps_all = True
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(s) - 1:
                    wraps_all = False
                    break
        if not wraps_all:
            break
        s = s[1:-1].strip()
    return s


def _conjunction_of_equalities(sql: str) -> Optional[list]:
    """``["a", "b"]`` when the condition is (up to parens/whitespace) a
    conjunction of same-column ``<col>_l = <col>_r`` equalities, else
    ``None``.  Conservative: any OR/NOT, or a conjunct that isn't a plain
    equality after peeling its parens, disqualifies the level."""
    import re

    s = _peel_outer_parens(sql)
    if re.search(r"(?i)\b(or|not)\b", s):
        return None
    cols = []
    for part in re.split(r"(?i)\bAND\b", s):
        part = _peel_outer_parens(part)
        m = re.fullmatch(r"`?([\w ]+?)_l`?\s*=\s*`?([\w ]+?)_r`?", part)
        if not m or m.group(1) != m.group(2):
            return None
        cols.append(m.group(1))
    return cols or None


def level_from_spec_dict(d: dict) -> ComparisonLevel:
    import sys

    spec = d.get("spec")
    if spec is None:
        lv = _level_from_reference_dict(d)
    else:
        mod = sys.modules[__name__]
        fn = getattr(mod, spec["builder"])
        lv = fn(
            *[_deser(a) for a in spec.get("args", [])],
            **{k: _deser(v) for k, v in spec.get("kwargs", {}).items()},
        )
    if "m_probability" in d:
        lv.m_probability = d["m_probability"]
    if "u_probability" in d:
        lv.u_probability = d["u_probability"]
    if d.get("tf_adjustment_column"):
        lv.tf_adjustment_column = d["tf_adjustment_column"]
        lv.tf_adjustment_weight = d.get("tf_adjustment_weight", 1.0)
        lv.tf_minimum_u_value = d.get("tf_minimum_u_value", 0.0)
        lv.disable_tf_exact_match_detection = bool(
            d.get("disable_tf_exact_match_detection", False)
        )
    return lv


def _wrap_builders() -> None:
    import functools
    import sys

    mod = sys.modules[__name__]
    for name in _BUILDER_NAMES:
        fn = getattr(mod, name)

        def make(fn=fn, name=name):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                lv = fn(*args, **kwargs)
                lv.spec = {
                    "builder": name,
                    "args": [_ser(a) for a in args],
                    "kwargs": {k: _ser(v) for k, v in kwargs.items()},
                }
                return lv

            return wrapper

        setattr(mod, name, make())


_wrap_builders()
