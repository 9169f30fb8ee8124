"""Similarity-function pack: the native replacement for the reference's Scala
UDF jar (splink/internals/spark/jar_location.py:42-64 — jaro_sim,
jaro_winkler, jaccard, damerau_levenshtein, Dmetaphone, QgramTokeniser).

Strategy (SURVEY §2.7): anything expressible with built-in pyspark functions
stays JVM-side (levenshtein, array ops, haversine, cosine-via-HOF); the truly
iterative string metrics are Arrow-vectorized pandas UDFs (batch transfer,
~10-100x faster than row-at-a-time Python UDFs). Definitions are pinned to
match DuckDB's built-ins (jaro_similarity, jaro_winkler_similarity, jaccard,
damerau_levenshtein) so the DuckDB oracle agrees bit-for-bit on literals.
"""

from __future__ import annotations

import math
from itertools import islice

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

# ---------------------------------------------------------------------------
# Pure-python scalar kernels (called per row inside Arrow batches)
# ---------------------------------------------------------------------------


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    # integer floor, NOT /2: an odd out-of-order count (possible when the
    # greedy window pairs different characters) floors in DuckDB/rapidfuzz,
    # and these kernels are pinned to DuckDB's values
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def _jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    jaro = _jaro(s1, s2)
    # standard Winkler boost threshold: the prefix bonus only applies when
    # jaro > 0.7 (DuckDB jaro_winkler_similarity / rapidfuzz default) —
    # below it the score is plain Jaro
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def _damerau_levenshtein(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein (with adjacent transpositions)."""
    if s1 == s2:
        return 0
    len1, len2 = len(s1), len(s2)
    if len1 == 0:
        return len2
    if len2 == 0:
        return len1
    maxdist = len1 + len2
    da: dict[str, int] = {}
    d = [[0] * (len2 + 2) for _ in range(len1 + 2)]
    d[0][0] = maxdist
    for i in range(len1 + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(len2 + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, len1 + 1):
        db = 0
        for j in range(1, len2 + 1):
            k = da.get(s2[j - 1], 0)
            l_ = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitution
                d[i + 1][j] + 1,  # insertion
                d[i][j + 1] + 1,  # deletion
                d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1),  # transposition
            )
        da[s1[i - 1]] = i
    return d[len1 + 1][len2 + 1]


def _damerau_levenshtein_f(s1: str, s2: str) -> float:
    return float(_damerau_levenshtein(s1, s2))


def _jaccard_charset(s1: str, s2: str) -> float:
    """Character-set Jaccard similarity (DuckDB ``jaccard`` semantics)."""
    a, b = set(s1), set(s2)
    if not a and not b:
        return 1.0
    inter = len(a & b)
    union = len(a | b)
    return inter / union if union else 0.0


_WORKER_MEMOS: dict = {}
_MEMO_MAX_ENTRIES = 262_144


def _worker_memo(fn) -> dict:
    """Memo dict for a kernel, persistent for the lifetime of the Python
    worker process. Spark reuses workers across Arrow batches and tasks
    (daemon mode), so a worker-level memo keeps paying off stage-wide —
    at the default 10k-row Arrow batch a per-batch memo almost never hits
    (a pair repeated 20x in 2M rows recurs within one batch with p≈0.1).

    Keyed by the callable itself, not its ``__name__``: two distinct
    callables sharing a name (lambdas, partials with different bound
    parameters) must not share cached values, and holding the callable as
    the key also rules out CPython id-reuse aliasing."""
    return _WORKER_MEMOS.setdefault(fn, {})


def _apply2(s1: pd.Series, s2: pd.Series, fn, null_value=None) -> pd.Series:
    """Pairwise kernel over an Arrow batch, memoized per worker process.

    Real-world name/address columns are heavily duplicated (that's what term
    frequencies exploit), so the same (a, b) pair recurs thousands of times
    per stage — the memo turns an O(len^2)-per-row kernel into a dict hit."""
    out = []
    memo = _worker_memo(fn)
    for a, b in zip(s1, s2):
        if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
            out.append(null_value)
            continue
        key = (a, b)
        v = memo.get(key)
        if v is None:
            v = fn(str(a), str(b))
            if len(memo) >= _MEMO_MAX_ENTRIES:
                # evict the NEWEST quarter: keys insert on first miss, so the
                # hot head of a skewed distribution sits at the FRONT of the
                # insertion-ordered dict — evicting from the back drops the
                # long tail of one-off pairs while keeping the frequent ones
                for k in list(islice(reversed(memo), _MEMO_MAX_ENTRIES // 4)):
                    del memo[k]
            memo[key] = v
        out.append(v)
    return pd.Series(out, dtype="float64")


# ---------------------------------------------------------------------------
# Pandas UDFs (Arrow-batched)
# ---------------------------------------------------------------------------


@pandas_udf(DoubleType())
def jaro_sim_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2(s1, s2, _jaro)


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2(s1, s2, _jaro_winkler)


@pandas_udf(DoubleType())
def damerau_levenshtein_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2(s1, s2, _damerau_levenshtein_f)


@pandas_udf(DoubleType())
def jaccard_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2(s1, s2, _jaccard_charset)


def _apply2_arrays(s1: pd.Series, s2: pd.Series, fn, higher_is_better: bool) -> pd.Series:
    """Best pairwise score over the cross product of two string arrays.

    The reference expresses this as nested list_transform SQL feeding the jar
    UDF (comparison_level_library.py:613-687); Spark HOF lambdas cannot call
    Python UDFs, so the whole (tiny — alias lists) cross product is evaluated
    inside one Arrow batch instead.
    """
    out = []
    memo = _worker_memo(fn)  # worker-lifetime elementwise memo (see _apply2)
    for a_list, b_list in zip(s1, s2):
        if a_list is None or b_list is None or len(a_list) == 0 or len(b_list) == 0:
            out.append(None)
            continue
        best = None
        for a in a_list:
            if a is None:
                continue
            for b in b_list:
                if b is None:
                    continue
                key = (a, b)
                v = memo.get(key)
                if v is None:
                    v = fn(str(a), str(b))
                    if len(memo) > 1_000_000:
                        memo.clear()
                    memo[key] = v
                if best is None or (v > best if higher_is_better else v < best):
                    best = v
        out.append(best)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def pairwise_jaro_winkler_max_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2_arrays(s1, s2, _jaro_winkler, higher_is_better=True)


@pandas_udf(DoubleType())
def pairwise_jaro_max_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2_arrays(s1, s2, _jaro, higher_is_better=True)


@pandas_udf(DoubleType())
def pairwise_jaccard_max_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2_arrays(s1, s2, _jaccard_charset, higher_is_better=True)


@pandas_udf(DoubleType())
def pairwise_damerau_levenshtein_min_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return _apply2_arrays(s1, s2, _damerau_levenshtein_f, higher_is_better=False)


_REGISTERED_SESSIONS: set[int] = set()
# sessions where the compiled JVM similarity pack registered successfully —
# the dispatchers below then route the hot scoring path entirely JVM-side
_JVM_SESSIONS: set[int] = set()

_JAVA_UDF_CLASSES = [
    ("jaro_sim", "splinkspark.Similarity$JaroSim"),
    ("jaro_winkler", "splinkspark.Similarity$JaroWinkler"),
    ("jaccard", "splinkspark.Similarity$JaccardChars"),
    ("damerau_levenshtein", "splinkspark.Similarity$DamerauLevenshtein"),
]


def _build_similarity_jar(src: str, jar: str) -> None:
    """Compile ``src`` against pyspark's jars into ``jar``; the manifest's
    ``Source-SHA256`` records the sha256 of ``src``."""
    import hashlib
    import os
    import subprocess
    import tempfile

    import pyspark

    pyjars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with open(src, "rb") as f, tempfile.TemporaryDirectory() as td:
        manifest = os.path.join(td, "MANIFEST.MF")
        with open(manifest, "w") as m:
            m.write(f"Source-SHA256: {hashlib.sha256(f.read()).hexdigest()}\n")
        for cmd in (["javac", "-encoding", "UTF-8", "-cp", pyjars, "-d", td, src],
                    ["jar", "cfm", jar, manifest, "-C", td, "splinkspark"]):
            subprocess.run(cmd, check=True, capture_output=True, timeout=120)


def _ensure_similarity_jar() -> "str | None":
    """Path to the compiled similarity jar; rebuild from the committed Java
    source with the host javac if the artifact is missing. Returns None when
    neither is possible (pandas fallback takes over)."""
    import os
    import tempfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    jar = os.path.join(pkg_dir, "jars", "splink-similarity.jar")
    if os.path.exists(jar):
        return jar
    src = os.path.join(pkg_dir, "java", "Similarity.java")
    if not os.path.exists(src):
        return None
    # build into a private, freshly-created directory — a fixed world-shared
    # /tmp path could serve a stale jar from an older version, or let another
    # local user pre-create the predictable path and have THEIR classes
    # ADD-JAR'd into our JVM
    built_dir = getattr(_ensure_similarity_jar, "_built_dir", None)
    if built_dir and os.path.exists(os.path.join(built_dir, "splink-similarity.jar")):
        return os.path.join(built_dir, "splink-similarity.jar")
    try:
        out_dir = tempfile.mkdtemp(prefix="splink-simjar-")
        built = os.path.join(out_dir, "splink-similarity.jar")
        _build_similarity_jar(src, built)
        _ensure_similarity_jar._built_dir = out_dir  # type: ignore[attr-defined]
        return built
    except Exception:
        return None


def _try_register_java(spark: SparkSession) -> bool:
    jar = _ensure_similarity_jar()
    if jar is None:
        return False
    try:
        spark.sql(f"ADD JAR 'file://{jar}'")
        for name, cls in _JAVA_UDF_CLASSES:
            spark.udf.registerJavaFunction(name, cls, DoubleType())
        # prove the classloader resolves before claiming the JVM path
        spark.sql("SELECT jaro_winkler('ab', 'ab')").collect()
        return True
    except Exception:
        return False


def register_udfs(spark: SparkSession) -> None:
    """Register the UDF pack under the same names the reference's jar used
    (jar_location.py:42-64), so comparison levels and ``CustomLevel`` /
    ``DistanceFunctionLevel`` SQL call them by name.

    Prefers the compiled JVM implementations (no Python workers in the
    scoring hot path — measured ~4x over the Arrow pandas UDFs on 2M pairs);
    falls back to the pandas UDFs when the jar is unavailable. The pairwise
    array metrics and ``double_metaphone`` are pandas UDFs either way.
    """
    from .phonetic import dmetaphone_udf

    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    python_udfs = [
        ("pairwise_jaro_winkler_max", pairwise_jaro_winkler_max_udf),
        ("pairwise_jaro_max", pairwise_jaro_max_udf),
        ("pairwise_jaccard_max", pairwise_jaccard_max_udf),
        ("pairwise_damerau_levenshtein_min", pairwise_damerau_levenshtein_min_udf),
        ("double_metaphone", dmetaphone_udf),
    ]
    if _try_register_java(spark):
        _JVM_SESSIONS.add(key)
    else:
        python_udfs += [
            ("jaro_sim", jaro_sim_udf),
            ("jaro_winkler", jaro_winkler_udf),
            ("damerau_levenshtein", damerau_levenshtein_udf),
            ("jaccard", jaccard_udf),
        ]
    for name, udf in python_udfs:
        spark.udf.register(name, udf)
    _REGISTERED_SESSIONS.add(key)


def _jvm_active() -> bool:
    s = SparkSession.getActiveSession()
    return s is not None and id(s) in _JVM_SESSIONS


# ---------------------------------------------------------------------------
# Native SQL expressions (stay JVM-side; no UDF)
# ---------------------------------------------------------------------------


def cosine_similarity(l: str, r: str) -> str:
    """Cosine similarity of two double arrays (SQL text ``l`` / ``r``) via
    higher-order functions.

    Direct port of the reference's native Spark expression
    (dialects.py:409-427): aggregate(zip_with(l, r, *)) / (norm_l * norm_r).
    Stays inside whole-stage codegen — no Python.
    """
    def norm(a: str) -> str:
        return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"

    dot = f"aggregate(zip_with({l}, {r}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    return f"{dot} / ({norm(l)} * {norm(r)})"


def haversine_km(lat_l: str, lon_l: str, lat_r: str, lon_r: str) -> str:
    """Great-circle distance in km (reference comparison_level_sql.py
    great_circle_distance_km_sql) over SQL text operands — JVM-side."""
    dlat = f"radians({lat_r} - {lat_l})"
    dlon = f"radians({lon_r} - {lon_l})"
    a = (f"sin({dlat} / 2) * sin({dlat} / 2) + cos(radians({lat_l})) * "
         f"cos(radians({lat_r})) * sin({dlon} / 2) * sin({dlon} / 2)")
    return f"12742.0D * asin(sqrt({a}))"
