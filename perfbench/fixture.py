"""The seeded ``persons`` fixture every workload reads.

Modelled on the 1M-row dedupe bench's generator (same columns, 1..7
records per entity, skewed city, corrupted duplicates), with two changes:

- every draw comes from a NumPy generator seeded by the workload seed, so
  ``--seed`` picks the inputs and the same seed gives the same parquet;
- names are built from syllables (tens of thousands of distinct first names
  and surnames) and duplicates carry edit typos, so fuzzy comparisons see
  mostly distinct string pairs — a small value set would let the
  similarity kernels' per-worker memo answer most pairs from a dict.

It is written with pyarrow, without Spark, so generating it leaves no trace
in the JVM that is measured afterwards. ``entity`` is the ground truth.
"""

from __future__ import annotations

import os

import numpy as np

FIRST_SYL = [
    "an", "ba", "ce", "da", "el", "fi", "ga", "ha", "is", "jo", "ka", "li",
    "ma", "no", "ol", "pe", "ra", "sa", "ta", "vi", "wi", "ya", "ze", "mi",
    "lu", "re", "so", "be", "ni", "ro", "la", "ti",
]
SUR_SYL = [
    "ash", "ber", "cott", "dale", "ford", "gill", "ham", "kin", "lock", "mor",
    "nel", "par", "quin", "ridge", "ston", "thorn", "wood", "well", "by", "ley",
    "man", "son", "ton", "wick", "croft", "field", "grave", "hurst", "mill",
    "shaw", "worth", "brook",
]
CITY = [
    "london", "leeds", "manchester", "bristol", "york", "bath", "derby",
    "exeter", "hull", "luton", "oxford", "cambridge", "norwich", "preston",
    "reading", "salford", "stoke", "truro", "wells", "wigan",
]
DOMAINS = ["mail.com", "post.net", "inbox.org"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"
FILES = 8


def fixture_path(cache_dir: str, seed: int, entities: int) -> str:
    return os.path.join(cache_dir, f"persons_s{seed}_e{entities}.parquet")


def _names(rng, syllables: list, n: int) -> np.ndarray:
    """Two or three syllables each (the third with chance 2/3)."""
    syl = np.array(syllables, dtype=object)
    parts = syl[rng.integers(0, len(syl), (n, 3))]
    third = np.where(rng.random(n) < 2 / 3, parts[:, 2], "")
    return parts[:, 0] + parts[:, 1] + third


def _typo(s: str, kind: int, pos: float, letter: str) -> str:
    """One edit of ``s``: transpose, delete, substitute or insert."""
    p = int(pos * max(len(s) - 1, 1))
    if kind == 0:
        return s[:p] + s[p + 1:p + 2] + s[p:p + 1] + s[p + 2:]
    if kind == 1:
        return s[:p] + s[p + 1:]
    if kind == 2:
        return s[:p] + letter + s[p + 1:]
    return s[:p + 1] + letter + s[p + 1:]


def _corrupt(rng, values: np.ndarray, dup: np.ndarray, chance: float) -> np.ndarray:
    """Duplicates (not an entity's first record) get one typo with ``chance``."""
    out = values.copy()
    n = len(values)
    hit = np.flatnonzero(dup & (rng.random(n) < chance))
    kinds = rng.integers(0, 4, n)
    pos = rng.random(n)
    letters = rng.integers(0, len(LETTERS), n)
    for i in hit:
        out[i] = _typo(values[i], kinds[i], pos[i], LETTERS[letters[i]])
    return out


def _nulled(rng, values: np.ndarray, chance: float, where=None) -> np.ndarray:
    drop = rng.random(len(values)) < chance
    if where is not None:
        drop &= where
    out = values.astype(object)
    out[drop] = None
    return out


def generate(seed: int, entities: int, path: str) -> None:
    """Write the records of ``entities`` entities to ``path`` (a directory
    of parquet files). Deterministic in (seed, entities)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, entities])
    n_dupes = rng.integers(1, 8, entities)
    entity = np.repeat(np.arange(entities, dtype=np.int64), n_dupes)
    starts = np.repeat(np.cumsum(n_dupes) - n_dupes, n_dupes)
    d = np.arange(len(entity)) - starts
    dup = d > 0

    first = _names(rng, FIRST_SYL, entities)
    sur = _names(rng, SUR_SYL, entities)
    # skewed city: floor(sqrt(u)) over u in [0, 400) favours low indices
    city = np.array(CITY, dtype=object)[
        np.minimum(np.sqrt(rng.integers(0, 400, entities)).astype(int), len(CITY) - 1)]
    dob_day = rng.integers(0, 21_000, entities)
    email = (first + "." + sur
             + (np.arange(entities) % 1000).astype(str).astype(object) + "@"
             + np.array(DOMAINS, dtype=object)[rng.integers(0, len(DOMAINS), entities)])

    day = dob_day[entity] + (dup & (rng.random(len(entity)) < 0.04))
    dob = (np.datetime64("1950-01-01") + day).astype(str).astype(object)
    columns = {
        "unique_id": entity * 8 + d,
        "first_name": _nulled(rng, _corrupt(rng, first[entity], dup, 0.35), 0.06),
        "surname": _nulled(rng, _corrupt(rng, sur[entity], dup, 0.25), 0.06),
        "dob": dob,
        "city": _nulled(rng, city[entity], 1 / 12, where=dup),
        "email": _nulled(rng, email[entity], 0.08),
        "entity": entity,
    }
    schema = pa.schema([("unique_id", pa.int64()), ("first_name", pa.string()),
                        ("surname", pa.string()), ("dob", pa.string()),
                        ("city", pa.string()), ("email", pa.string()),
                        ("entity", pa.int64())])
    table = pa.table({k: pa.array(v, type=schema.field(k).type) for k, v in columns.items()},
                     schema=schema)
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, FILES + 1).astype(int)
    for i in range(FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(tmp, f"part-{i:02d}.parquet"))
    os.replace(tmp, path)
