"""Lazy column-transform chains applied before comparison, written as SQL.

Reference semantics: splink/internals/column_expression.py:23-367 — a
``ColumnExpression`` is a column name plus an ordered chain of transforms
(lower, substr, regex_extract, nullif, try-parse date/timestamp, cast,
first/last array element) that is applied to the ``_l``/``_r`` suffixed
variants of the column at comparison time.

Each transform is a ``str -> str`` function that wraps the SQL text of its
input, so a chain compiles to one Spark SQL expression and ``on`` / ``l`` /
``r`` parse it with a single ``F.expr``. :func:`sql_literal` and
:func:`sql_ident` are the one place values and names become SQL text.
"""

from __future__ import annotations

import math
from typing import Callable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

Transform = Callable[[str], str]

_ISO_FORMATS = ("yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd")


def sql_literal(value) -> str:
    """``value`` as a Spark SQL literal of the type ``F.lit`` gives it.

    Doubles are ``repr(x) + "D"`` (a bare ``0.9`` parses as DECIMAL), the
    negative ones parenthesised so no ``--`` comment can form; inf and nan
    have no literal syntax and are casts. Strings escape ``\\`` and ``'``
    for the default ``spark.sql.parser.escapedStringLiterals=false``, so a
    regex pattern's backslashes reach the function unchanged."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value) if value >= 0 else f"({value})"
    if isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            name = "NaN" if math.isnan(value) else "Infinity" if value > 0 else "-Infinity"
            return f"CAST('{name}' AS DOUBLE)"
        text = repr(value) + "D"
        return f"({text})" if math.copysign(1.0, value) < 0 else text
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


def sql_ident(name: str) -> str:
    """``name`` as a backticked Spark SQL identifier (a backtick doubled):
    one column, whatever spaces or dots the name holds."""
    return "`" + name.replace("`", "``") + "`"


class ColumnExpression:
    """A column reference plus a chain of pre-comparison transforms.

    ``spec`` records the transform chain as (method_name, args) tuples so the
    expression is JSON-serializable (model save/load round trip).
    """

    def __init__(
        self,
        name: str,
        transforms: tuple[Transform, ...] = (),
        spec: tuple[tuple, ...] = (),
    ):
        self.name = name
        self.transforms = transforms
        self.spec = spec

    # -- construction helpers -------------------------------------------------
    @staticmethod
    def instantiate(spec: Union[str, "ColumnExpression"]) -> "ColumnExpression":
        if isinstance(spec, ColumnExpression):
            return spec
        return ColumnExpression(spec)

    def as_dict(self) -> dict:
        return {"name": self.name, "transforms": [list(t) for t in self.spec]}

    @staticmethod
    def from_dict(d: Union[str, dict]) -> "ColumnExpression":
        if isinstance(d, str):
            return ColumnExpression(d)
        if "sql" in d:
            return SqlColumnExpression(d["sql"])
        ce = ColumnExpression(d["name"])
        for method, *args in d.get("transforms", []):
            args = args[0] if len(args) == 1 and isinstance(args[0], list) else args
            ce = getattr(ce, method)(*args)
        return ce

    def _with(self, fn: Transform, method: str, *args) -> "ColumnExpression":
        return ColumnExpression(
            self.name, self.transforms + (fn,), self.spec + ((method, list(args)),)
        )

    # -- transform library (reference column_expression.py:115-310) -----------
    def lower(self) -> "ColumnExpression":
        return self._with(lambda c: f"lower({c})", "lower")

    def upper(self) -> "ColumnExpression":
        return self._with(lambda c: f"upper({c})", "upper")

    def substr(self, start: int, length: int) -> "ColumnExpression":
        return self._with(
            lambda c: f"substring({c}, {sql_literal(start)}, {sql_literal(length)})",
            "substr", start, length,
        )

    def cast_to_string(self) -> "ColumnExpression":
        return self._with(lambda c: f"CAST({c} AS STRING)", "cast_to_string")

    def regex_extract(self, pattern: str, capture_group: int = 0) -> "ColumnExpression":
        # empty capture -> NULL, mirroring reference dialects.py:208-249
        return self._with(
            lambda c: f"nullif(regexp_extract({c}, {sql_literal(pattern)}, "
                      f"{sql_literal(capture_group)}), '')",
            "regex_extract", pattern, capture_group,
        )

    def nullif(self, value) -> "ColumnExpression":
        return self._with(lambda c: f"nullif({c}, {sql_literal(value)})", "nullif", value)

    def try_parse_date(self, fmt: str = "yyyy-MM-dd") -> "ColumnExpression":
        # Spark impl in reference dialects.py:481-491: date(try_to_timestamp(c, fmt))
        return self._with(
            lambda c: f"CAST(try_to_timestamp({c}, {sql_literal(fmt)}) AS DATE)",
            "try_parse_date", fmt,
        )

    def try_parse_timestamp(self, fmt: str = "yyyy-MM-dd HH:mm:ss") -> "ColumnExpression":
        return self._with(
            lambda c: f"try_to_timestamp({c}, {sql_literal(fmt)})", "try_parse_timestamp", fmt
        )

    def try_parse_iso_timestamp(self) -> "ColumnExpression":
        """ISO-8601 timestamp-or-date parse, unparseable → NULL (the
        reference's default when ``input_is_string`` date levels get no
        ``datetime_format``: DuckDB's try_strptime ISO behavior). Tries full
        timestamp, 'T'-separated with/without zone, then bare date."""
        return self._with(
            lambda c: "coalesce(" + ", ".join(
                [f"try_to_timestamp({c})"]
                + [f"try_to_timestamp({c}, {sql_literal(f)})" for f in _ISO_FORMATS]) + ")",
            "try_parse_iso_timestamp",
        )

    def access_extreme_array_element(self, first_or_last: str) -> "ColumnExpression":
        if first_or_last not in ("first", "last"):
            raise ValueError("first_or_last must be 'first' or 'last'")
        idx = 1 if first_or_last == "first" else -1
        return self._with(
            lambda c: f"element_at({c}, {sql_literal(idx)})",
            "access_extreme_array_element", first_or_last,
        )

    def struct_field(self, field: str) -> "ColumnExpression":
        return self._with(lambda c: f"{c}.{sql_ident(field)}", "struct_field", field)

    # -- application -----------------------------------------------------------
    def sql_on(self, column_name: str) -> str:
        """The transform chain over ``column_name``, as SQL text."""
        sql = sql_ident(column_name)
        for t in self.transforms:
            sql = t(sql)
        return sql

    def sql_l(self) -> str:
        return self.sql_on(f"{self.name}_l")

    def sql_r(self) -> str:
        return self.sql_on(f"{self.name}_r")

    def on(self, column_name: str) -> Column:
        return F.expr(self.sql_on(column_name))

    def l(self) -> Column:
        return self.on(f"{self.name}_l")

    def r(self) -> Column:
        return self.on(f"{self.name}_r")

    @property
    def is_pure_column_reference(self) -> bool:
        return not self.transforms

    @property
    def base_columns(self) -> list[str]:
        return [self.name]

    def __repr__(self) -> str:  # pragma: no cover
        return f"ColumnExpression({self.name!r}, {len(self.transforms)} transforms)"


# -- SQL-snippet keys (reference block_on("substr(surname,1,2)")) -------------

_SQL_IDENT = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")
_SQL_KEYWORDS = {
    "AND", "OR", "NOT", "NULL", "IS", "CASE", "WHEN", "THEN", "ELSE", "END",
    "LIKE", "IN", "TRUE", "FALSE", "CAST", "AS", "BETWEEN", "DISTINCT",
    "INT", "BIGINT", "DOUBLE", "FLOAT", "STRING", "DATE", "TIMESTAMP",
    "BOOLEAN", "DECIMAL", "INTERVAL", "DIV",
}


def _sql_chunks(sql: str):
    """``(text, column)`` chunks of a SQL snippet; ``column`` is None unless
    the chunk is a bare or backticked column name (not a function name,
    keyword, qualified name or literal)."""
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"'):  # string literal (Spark treats "..." as a string
            # literal too, with doubled-quote escapes)
            q = c
            j = i + 1
            while j < n:
                if sql[j] == q and not (j + 1 < n and sql[j + 1] == q):
                    break
                j += 2 if sql[j] == q else 1
            yield sql[i : j + 1], None
            i = j + 1
            continue
        if c.isdigit():  # numeric literal: consume 1e2 / 0xFF / 1.5 verbatim
            j = i
            while j < n and (sql[j].isalnum() or sql[j] in "._"):
                j += 1
            yield sql[i:j], None
            i = j
            continue
        if c == "`":  # backtick-quoted identifier
            j = sql.find("`", i + 1)
            if j == -1:
                yield sql[i:], None
                return
            yield sql[i : j + 1], sql[i + 1 : j]
            i = j + 1
            continue
        m = _SQL_IDENT.match(sql, i)
        if m:
            tok = m.group(0)
            rest = sql[m.end():].lstrip()
            prev = sql[:i].rstrip()
            is_func = rest.startswith("(")
            is_kw = tok.upper() in _SQL_KEYWORDS
            # alias.col: neither the qualifier nor the field is a base column
            is_qualified = prev.endswith(".") or rest.startswith(".")
            yield tok, None if (is_func or is_kw or is_qualified) else tok
            i = m.end()
            continue
        yield c, None
        i += 1


def suffix_sql_identifiers(sql: str, suffix: str) -> str:
    """Append ``suffix`` to every column name in a SQL snippet —
    ``substr(surname, 1, 2)`` + ``_l`` → ``substr(surname_l, 1, 2)``.
    The reference gets the same effect by prefixing a table alias via
    sqlglot; this lexical rewrite covers the function-call/arithmetic
    snippets block_on documents."""
    return "".join(
        text if col is None else f"`{col}{suffix}`" if text.startswith("`") else col + suffix
        for text, col in _sql_chunks(sql)
    )


class SqlColumnExpression(ColumnExpression):
    """A blocking key defined by a SQL snippet over BASE column names
    (reference blocking_rule_library.py:162-210 ``block_on("substr(s,1,2)")``).
    ``sql_l()``/``sql_r()`` rewrite the snippet's identifiers with the side
    suffix; ``sql_on(name)`` returns the raw expression (the shape the
    pre-filter key-count estimator groups by)."""

    def __init__(self, sql: str):
        super().__init__(sql)
        self.sql = sql

    def sql_on(self, column_name: str) -> str:
        for suffix in ("_l", "_r"):
            if column_name == f"{self.name}{suffix}":
                return f"({suffix_sql_identifiers(self.sql, suffix)})"
        return f"({self.sql})"

    @property
    def is_pure_column_reference(self) -> bool:
        return False

    @property
    def base_columns(self) -> list[str]:
        return list(dict.fromkeys(c for _, c in _sql_chunks(self.sql) if c))

    def as_dict(self) -> dict:
        return {"name": self.sql, "sql": self.sql}

    def __repr__(self) -> str:  # pragma: no cover
        return f"SqlColumnExpression({self.sql!r})"
