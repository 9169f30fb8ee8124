"""String-comparator and phonetic exploration helpers.

Mirrors the reference's ``splink/internals/similarity_analysis.py`` (318
lines: ``comparator_score`` / ``comparator_score_df`` / the two heatmap
charts / ``phonetic_transform`` family).  The reference computes scores by
templating DuckDB SQL over an in-memory pandas frame; here the same five
metrics run through the *engine's own* comparison kernels — native
``F.levenshtein`` plus the compiled JVM similarity pack (or its pinned
pandas fallback) registered by ``functions.register_udfs`` — so what this
module reports is exactly what a comparison level scores at predict time.

Inputs are tiny by construction (a handful of candidate strings a user is
eyeballing), so every helper returns a pandas DataFrame like the reference
does; the Spark job is one ``createDataFrame`` + one collect.
"""

from __future__ import annotations

from typing import Any, Mapping, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import register_udfs
from .phonetic import dmetaphone_udf, double_metaphone

__all__ = [
    "comparator_score",
    "comparator_score_df",
    "comparator_score_chart",
    "comparator_score_threshold_chart",
    "phonetic_transform",
    "phonetic_transform_df",
    "phonetic_match_chart",
]

_ListLike = Union[Mapping[str, Sequence[Any]], Sequence[Mapping[str, Any]], pd.DataFrame]


def _session(spark: Optional[SparkSession]) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "similarity_analysis needs an active SparkSession; pass spark=..."
        )
    register_udfs(s)
    return s


def _to_spark(data: _ListLike, spark: SparkSession) -> DataFrame:
    if isinstance(data, DataFrame):
        return data
    pdf = data if isinstance(data, pd.DataFrame) else pd.DataFrame(data)
    return spark.createDataFrame(pdf)


def comparator_score_df(
    data: _ListLike,
    col1: str,
    col2: str,
    decimal_places: int = 2,
    spark: Optional[SparkSession] = None,
) -> pd.DataFrame:
    """String similarity scores + distances for a list of string pairs
    (reference similarity_analysis.py:49-80, same output columns)."""
    s = _session(spark)
    df = _to_spark(data, s)
    a, b = F.col(col1), F.col(col2)
    out = df.select(
        a.alias(col1),
        b.alias(col2),
        F.levenshtein(a, b).alias("levenshtein_distance"),
        F.call_function("damerau_levenshtein", a, b).cast("long").alias(
            "damerau_levenshtein_distance"
        ),
        F.round(F.call_function("jaro_sim", a, b), decimal_places).alias("jaro_similarity"),
        F.round(F.call_function("jaro_winkler", a, b), decimal_places).alias(
            "jaro_winkler_similarity"
        ),
        F.round(F.call_function("jaccard", a, b), decimal_places).alias("jaccard_similarity"),
    )
    return out.toPandas()


def comparator_score(
    str1: str,
    str2: str,
    decimal_places: int = 2,
    spark: Optional[SparkSession] = None,
) -> pd.DataFrame:
    """Similarity between two strings under every splink string comparator
    (reference similarity_analysis.py:23-46)."""
    return comparator_score_df(
        {"string1": [str1], "string2": [str2]},
        "string1",
        "string2",
        decimal_places=decimal_places,
        spark=spark,
    )


_SIMILARITY_METRICS = ["jaro_similarity", "jaro_winkler_similarity", "jaccard_similarity"]
_DISTANCE_METRICS = ["levenshtein_distance", "damerau_levenshtein_distance"]


def _melted_records(df: pd.DataFrame, col1: str, col2: str):
    """Long-format similarity / distance records the heatmap charts encode
    (reference similarity_analysis.py:83-129 pd.melt + suffix strip)."""
    df = df.copy()
    df["strings_to_compare"] = df[col1].astype(str) + ", " + df[col2].astype(str)
    long = pd.melt(
        df,
        id_vars=["strings_to_compare"],
        value_vars=_SIMILARITY_METRICS + _DISTANCE_METRICS,
        var_name="comparator",
        value_name="score",
    )
    sim = long[long["comparator"].str.contains("similarity")].copy()
    sim["comparator"] = sim["comparator"].str.replace("_similarity", "", regex=False)
    dist = long[long["comparator"].str.contains("distance")].copy()
    dist["comparator"] = dist["comparator"].str.replace("_distance", "", regex=False)
    return sim.to_dict("records"), dist.to_dict("records")


def comparator_score_chart(
    data: _ListLike, col1: str, col2: str, spark: Optional[SparkSession] = None
):
    """Similarity/distance heatmap pair (reference _comparator_score_chart)."""
    from .chart_specs import comparator_score_chart_spec

    sim, dist = _melted_records(comparator_score_df(data, col1, col2, spark=spark), col1, col2)
    return comparator_score_chart_spec(sim, dist)


def comparator_score_threshold_chart(
    data: _ListLike,
    col1: str,
    col2: str,
    similarity_threshold: Optional[float] = None,
    distance_threshold: Optional[float] = None,
    spark: Optional[SparkSession] = None,
):
    """Binary match/no-match heatmaps at the given thresholds (reference
    _comparator_score_threshold_chart)."""
    from .chart_specs import comparator_score_threshold_chart_spec

    sim, dist = _melted_records(comparator_score_df(data, col1, col2, spark=spark), col1, col2)
    return comparator_score_threshold_chart_spec(
        sim, dist, similarity_threshold, distance_threshold
    )


def phonetic_transform(string: str) -> dict:
    """Soundex / Metaphone / Double Metaphone codes for one string
    (reference similarity_analysis.py:190-212).  The reference delegates to
    the ``phonetics`` package; this engine uses its own from-scratch double
    metaphone (internals/phonetic.py) — the primary code doubles as the
    metaphone entry, a documented approximation."""
    p, a = double_metaphone(string)
    return {
        "soundex": _py_soundex(string),
        "metaphone": p,
        "dmetaphone": [p, a] if a != p else [p],
    }


def _py_soundex(s: str) -> str:
    """American Soundex (same algorithm Spark's ``F.soundex`` implements),
    driver-side so the scalar helper needs no Spark job."""
    s = "".join(c for c in s.upper() if c.isalpha())
    if not s:
        return ""
    codes = {
        **dict.fromkeys("BFPV", "1"), **dict.fromkeys("CGJKQSXZ", "2"),
        **dict.fromkeys("DT", "3"), "L": "4", **dict.fromkeys("MN", "5"), "R": "6",
    }
    out = [s[0]]
    prev = codes.get(s[0], "")
    for c in s[1:]:
        code = codes.get(c, "")
        if code and code != prev:
            out.append(code)
            if len(out) == 4:
                break
        if c not in "HW":
            prev = code
    return ("".join(out) + "000")[:4]


def phonetic_transform_df(
    data: _ListLike, col1: str, col2: str, spark: Optional[SparkSession] = None
) -> pd.DataFrame:
    """Phonetic transforms for a list of string pairs (reference
    similarity_analysis.py:215-262): per-pair ``soundex`` / ``metaphone`` /
    ``dmetaphone`` arrays of [transform(col1), transform(col2)].  Soundex
    runs on the native JVM expression; metaphone/dmetaphone through the
    Arrow-batched double-metaphone UDF."""
    s = _session(spark)
    df = _to_spark(data, s)
    a, b = F.col(col1), F.col(col2)
    out = df.select(
        a.alias(col1),
        b.alias(col2),
        F.array(F.soundex(a), F.soundex(b)).alias("soundex"),
        F.array(
            F.element_at(dmetaphone_udf(a), 1), F.element_at(dmetaphone_udf(b), 1)
        ).alias("metaphone"),
        F.array(dmetaphone_udf(a), dmetaphone_udf(b)).alias("dmetaphone"),
    )
    pdf = out.toPandas()
    pdf["dmetaphone"] = pdf["dmetaphone"].apply(
        lambda pair: [list(x) for x in pair]
    )
    pdf["soundex"] = pdf["soundex"].apply(list)
    pdf["metaphone"] = pdf["metaphone"].apply(list)
    return pdf


def phonetic_match_chart(
    data: _ListLike, col1: str, col2: str, spark: Optional[SparkSession] = None
):
    """Phonetic agreement heatmap (reference _phonetic_match_chart)."""
    from .chart_specs import phonetic_match_chart_spec

    df = phonetic_transform_df(data, col1, col2, spark=spark)
    df["strings_to_compare"] = df[col1].astype(str) + ", " + df[col2].astype(str)
    long = pd.melt(
        df,
        id_vars=["strings_to_compare"],
        value_vars=["metaphone", "dmetaphone", "soundex"],
        var_name="phonetic",
        value_name="transform",
    )
    long["match"] = long["transform"].apply(lambda x: x[0] == x[1])
    long["transform"] = long["transform"].apply(str)
    return phonetic_match_chart_spec(long.to_dict("records"))
