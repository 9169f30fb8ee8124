"""DuckDB SQL oracle for ``fuzzy_predict``: the same fixed model, blocking
rule and threshold, evaluated on the same parquet, independently of Spark.

The fuzzy model has no term-frequency terms, so every pair's match weight
is one of finitely many sums; ``kept_pairs`` refuses a threshold that lies
within 1e-6 of one of them, so floating-point summation order cannot flip a
pair across it.
"""

from __future__ import annotations

import itertools
import math

import numpy as np

from models import FUZZY_BLOCK, FUZZY_MODEL, FUZZY_PRIOR, FUZZY_THRESHOLD, log2_bf

# level conditions in ladder order (null level first, else level last)
_LEVELS = {
    "first_name": ["l.first_name = r.first_name",
                   "jaro_winkler_similarity(l.first_name, r.first_name) >= 0.9",
                   "jaro_winkler_similarity(l.first_name, r.first_name) >= 0.7"],
    "surname": ["l.surname = r.surname",
                "damerau_levenshtein(l.surname, r.surname) <= 1",
                "damerau_levenshtein(l.surname, r.surname) <= 2"],
    "email": ["l.email = r.email",
              "jaccard(l.email, r.email) >= 0.9",
              "jaccard(l.email, r.email) >= 0.7"],
    "dob": ["l.dob = r.dob"],
    "city": ["l.city = r.city"],
}


def _weight_sql(col: str) -> str:
    params = FUZZY_MODEL[col]
    whens = [f"WHEN l.{col} IS NULL OR r.{col} IS NULL THEN 0.0"]
    for cond, (m, u) in zip(_LEVELS[col], params):
        whens.append(f"WHEN {cond} THEN {log2_bf(m, u)!r}")
    m, u = params[-1]
    return f"CASE {' '.join(whens)} ELSE {log2_bf(m, u)!r} END"


def threshold_weight() -> float:
    p = FUZZY_THRESHOLD
    w = math.log2(p / (1 - p))
    prior = math.log2(FUZZY_PRIOR / (1 - FUZZY_PRIOR))
    options = [[0.0] + [log2_bf(m, u) for m, u in FUZZY_MODEL[c]] for c in _LEVELS]
    gap = min(abs(prior + sum(combo) - w) for combo in itertools.product(*options))
    if gap < 1e-6:
        raise ValueError(f"threshold weight {w} is within {gap} of a reachable weight")
    return w


def kept_pairs(parquet_glob: str, max_entity: int, threads: int,
               temp_dir: str) -> np.ndarray:
    """Sorted (uid_l, uid_r) rows the fuzzy model keeps, shape (n, 2)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute("SET enable_progress_bar = false")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(
            "CREATE TABLE p AS SELECT * EXCLUDE (entity) FROM read_parquet(?) "
            "WHERE entity < ?", [parquet_glob, max_entity])
        weight = " + ".join(
            [repr(math.log2(FUZZY_PRIOR / (1 - FUZZY_PRIOR)))]
            + [_weight_sql(c) for c in FUZZY_MODEL])
        block = FUZZY_BLOCK.replace("dob", "{side}.dob")
        rows = con.execute(f"""
            SELECT l.unique_id AS uid_l, r.unique_id AS uid_r FROM p l JOIN p r
              ON {block.format(side='l')} = {block.format(side='r')}
             AND l.unique_id < r.unique_id
            WHERE {weight} >= {threshold_weight()!r}
            ORDER BY 1, 2""").fetchnumpy()
    finally:
        con.close()
    return np.stack([rows["uid_l"], rows["uid_r"]], axis=1).astype(np.int64)
