"""Standalone realtime scoring — no ``Linker`` required.

Reference: splink/internals/realtime.py:17-159 — ``compare_records(record_1,
record_2, settings, ...)`` scores pairs from settings alone, with a
per-settings cache (the reference's ``SQLCache`` keeps the generated SQL
keyed by ``sql_cache_key``; here the expensive per-call work is parsing the
settings JSON into comparison objects, so the cache holds the parsed
``Settings`` under the same key — the Spark *plan* is rebuilt per call, which
is microseconds once the settings objects exist).

Term frequencies: like the reference, "assumes any required term frequency
values are provided in the input records" — supply ``<prefix><col>`` keys when
the model has TF-adjusted comparisons, where ``<prefix>`` is the settings'
``term_frequency_adjustment_column_prefix`` (``tf_`` by default), the name the
linker's TF store gives them; missing TF values score with no adjustment.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .internals.blocking import CustomRule, block_using_rules
from .internals.comparison_vectors import compute_comparison_vectors
from .internals.functions import register_udfs
from .internals.predict import predict_from_comparison_vectors
from .internals.settings import Settings
from .internals.term_frequencies import tf_column_name

RecordsInput = Union[dict, Sequence[dict], DataFrame]

# parsed-settings cache, keyed by the caller's sql_cache_key
# (reference realtime.py:17-40 SQLCache semantics)
_settings_cache: dict[str, Settings] = {}


def _resolve_settings(settings, sql_cache_key: Optional[str]) -> Settings:
    if sql_cache_key is not None and sql_cache_key in _settings_cache:
        return _settings_cache[sql_cache_key]
    if isinstance(settings, Settings):
        out = settings
    elif isinstance(settings, dict):
        out = Settings.from_dict(settings)
    elif isinstance(settings, str):
        out = Settings.from_json(settings)  # path or JSON string
    else:
        # SettingsCreator or anything exposing the reference's dict shape
        as_dict = getattr(settings, "as_dict", None)
        if as_dict is None:
            raise TypeError(f"unsupported settings type {type(settings)!r}")
        d = as_dict() if callable(as_dict) else as_dict
        out = Settings.from_dict(d)
    if sql_cache_key is not None:
        _settings_cache[sql_cache_key] = out
    return out


def _as_frame(
    records: RecordsInput, spark: Optional[SparkSession], uid: str, uid_start: int
) -> DataFrame:
    if isinstance(records, DataFrame):
        df = records
    else:
        rows = [records] if isinstance(records, dict) else list(records)
        if spark is None:
            spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("pass spark= when records are plain dicts")
        rows = [
            dict(r) | ({uid: uid_start + i} if uid not in r else {})
            for i, r in enumerate(rows)
        ]
        # a key that is None in EVERY record defeats type inference — drop it
        # here; the caller's column union re-adds it as a typed null
        all_none = {
            k for k in {k for r in rows for k in r}
            if all(r.get(k) is None for r in rows)
        }
        rows = [{k: v for k, v in r.items() if k not in all_none} for r in rows]
        df = spark.createDataFrame(rows)
    if uid not in df.columns:
        raise ValueError(f"records need a {uid!r} column (or dict key)")
    return df


def compare_records(
    record_1: RecordsInput,
    record_2: RecordsInput,
    settings: Union[Settings, dict, str, Any],
    spark: Optional[SparkSession] = None,
    sql_cache_key: Optional[str] = None,
    include_found_by_blocking_rules: bool = False,
    join_condition: str = "1=1",
) -> DataFrame:
    """Score every (left, right) record pair under ``join_condition`` with the
    model in ``settings`` — the reference's ``realtime.compare_records``
    (realtime.py:44-159). Inputs are dicts, lists of dicts, or DataFrames;
    ``join_condition`` is a SQL boolean over tables ``l`` and ``r``
    (default ``1=1`` = all cross pairs), blocked as a ``CustomRule`` with
    every record column carried through. Right records given as dicts are
    broadcast; for a DataFrame Spark chooses the join.

    ``include_found_by_blocking_rules`` appends a boolean column that is true
    when any of the settings' prediction blocking rules would have produced
    the pair (reference accuracy.py _select_found_by_blocking_rules).
    """
    s = _resolve_settings(settings, sql_cache_key)
    uid = s.unique_id_column_name

    left = _as_frame(record_1, spark, uid, uid_start=0)
    right = _as_frame(record_2, spark, uid, uid_start=1_000_000)
    register_udfs(left.sparkSession)

    # union of both sides' columns, so a key present on one side only still
    # scores (null on the other side → null level); plus every column the
    # model's comparisons read — a column absent from (or None in) both
    # records must still exist as a typed null so its levels resolve to -1,
    # and so must its TF columns
    model_cols = [c for comp in s.comparisons for c in comp.input_columns or []]
    tf_cols = [tf_column_name(s, c) for c in s.tf_columns]
    all_cols = list(dict.fromkeys([*left.columns, *right.columns, *model_cols, *tf_cols]))

    def norm(df: DataFrame) -> DataFrame:
        missing = [c for c in all_cols if c not in df.columns]
        for c in missing:
            cast = "double" if c in tf_cols else "string"
            df = df.withColumn(c, F.lit(None).cast(cast))
        return df

    pairs = block_using_rules(
        norm(left), [CustomRule(join_condition)], nodes_right=norm(right),
        output_columns=all_cols, broadcast_right=not isinstance(record_2, DataFrame),
    )
    cv = compute_comparison_vectors(pairs, s)
    out = predict_from_comparison_vectors(cv, s)
    if include_found_by_blocking_rules:
        rules = s.blocking_rules_to_generate_predictions
        found = F.lit(False)
        for r in rules:
            found = found | F.coalesce(r.condition(), F.lit(False))
        out = out.withColumn("found_by_blocking_rules", found)
    return out
