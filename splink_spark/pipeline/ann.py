"""Approximate-nearest-neighbour search over an embedding column.

Brute-force cosine top-k is the correctness baseline (bounded: queries are a
small broadcast side). The scale path is random-hyperplane LSH bucketing: the
probe join becomes an equi-join on bucket signature, so candidate generation
is O(bucket) not O(corpus) per query — the shape that survives 100 TB.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..internals.functions import cosine_similarity


def _sim(l, r):
    return cosine_similarity(l.cast("array<double>"), r.cast("array<double>"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query side against the
    corpus, window-rank per query. Ties broken by corpus id (deterministic)."""
    from ..internals.misc import spread_to_cores

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(embedding_col).alias("__q_emb")
    )
    c = spread_to_cores(corpus).select(
        F.col(id_col).alias("neighbour_id"), F.col(embedding_col).alias("__c_emb")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbour_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbour_id",
            _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def random_hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure python; tiny)."""
    import hashlib
    import struct

    planes = []
    for p in range(num_planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            (x,) = struct.unpack("<q", h[:8])
            vec.append(x / 2**63)  # [-1, 1)
        planes.append(vec)
    return planes


def lsh_bucket_signature(embedding_col, planes: Sequence[Sequence[float]]):
    """Sign-bit signature: one bit per hyperplane, packed into a bigint.

    Everything is HOF arithmetic over the array column — JVM-side codegen.
    """
    bits = []
    for i, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(embedding_col.cast("array<double>"), plane_arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("bigint")


def _kmeans_centroids(
    corpus: DataFrame,
    embedding_col: str,
    id_col: str,
    num_cells: int,
    iterations: int = 8,
    sample_rows: int = 50_000,
):
    """Spherical k-means centroids, trained driver-side on a deterministic
    hash-sample (numpy Lloyd iterations — the standard IVF index build:
    training on a bounded sample is how FAISS-style IVF indexes scale, the
    full corpus is only ASSIGNED to cells, never collected).

    Init = the ``num_cells`` sample rows with the smallest xxhash64(id)
    (stable across partitionings); assignment by max cosine; update = mean
    of members renormalized; empty cells keep their previous centroid.
    """
    import numpy as np

    sample = (
        corpus.select(id_col, embedding_col)
        .withColumn("__h", F.xxhash64(F.col(id_col)))
        .orderBy("__h")
        .limit(max(sample_rows, num_cells))
        .collect()
    )
    mat = np.array([list(r[embedding_col]) for r in sample], dtype="float64")
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    # a corpus smaller than num_cells simply gets fewer cells
    num_cells = min(num_cells, len(mat))
    cm = mat[:num_cells].copy()
    cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
    for _ in range(max(0, iterations)):
        assign = np.argmax(mat @ cm.T, axis=1)
        new = np.zeros_like(cm)
        np.add.at(new, assign, mat)
        counts = np.bincount(assign, minlength=num_cells)
        empty = counts == 0
        norms = np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        new = new / norms
        new[empty] = cm[empty]
        if np.allclose(new, cm, atol=1e-9):
            cm = new
            break
        cm = new
    return cm


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    num_cells: int = 16,
    nprobe: int = 4,
    kmeans_iterations: int = 8,
) -> DataFrame:
    """IVF-style approximate top-k.

    Index: ``num_cells`` spherical-k-means centroids trained on a bounded
    deterministic sample (``kmeans_iterations=0`` falls back to the raw
    hash-min seed rows); every corpus vector is assigned to its nearest
    centroid by a numpy-vectorized pandas UDF (one matmul per Arrow batch).
    Probe: each query searches its ``nprobe`` nearest cells only — candidate
    generation is an equi-join on cell id, O(corpus/num_cells * nprobe) per
    query.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cm_norm = _kmeans_centroids(
        corpus, embedding_col, id_col, num_cells, iterations=kmeans_iterations
    )

    def _cells(n: int):
        @pandas_udf(ArrayType(IntegerType()))
        def nearest_cells(embs):
            mat = np.array([list(v) for v in embs], dtype="float64")
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ cm_norm.T  # batch matmul: cosine to every centroid
            top = np.argsort(-sims, axis=1)[:, :n]
            return pd.Series([row.tolist() for row in top])

        return nearest_cells

    c = corpus.select(
        F.col(id_col).alias("neighbour_id"),
        F.col(embedding_col).alias("__c_emb"),
        F.element_at(_cells(1)(F.col(embedding_col)), 1).alias("__cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(embedding_col).alias("__q_emb"),
        F.explode(_cells(nprobe)(F.col(embedding_col))).alias("__cell"),
    )
    cand = c.join(F.broadcast(q), on="__cell").where(
        F.col("neighbour_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "neighbour_id",
        _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
    ).dropDuplicates(["query_id", "neighbour_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbour_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def _quantize_int(
    df: DataFrame, embedding_col: str, id_col: str, scale: int
) -> DataFrame:
    """L2-normalize + quantize an embedding column to int64 at ``scale``:
    ``(id, __q)`` where ``__q[i] = round(x_i / ||x|| * scale)``.

    The norm is staged into its own column first — referenced inside the
    transform lambda it would re-run the O(dim) sum per ELEMENT."""
    emb_d = F.col(embedding_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(emb_d, F.lit(0.0), lambda acc, x: acc + x * x))
    with_norm = df.select(
        F.col(id_col),
        emb_d.alias("__e"),
        F.greatest(norm, F.lit(1e-12)).alias("__norm"),
    )
    qemb = F.transform(
        F.col("__e"),
        lambda x: F.round(x / F.col("__norm") * scale).cast("bigint"),
    )
    return with_norm.select(F.col(id_col), qemb.alias("__q"))


def _int_dot_array(centroids: list[list[int]]):
    """ARRAY of exact-int64 dot products of column ``__q`` against each
    centroid literal — each dot expression appears exactly once (a WHEN-chain
    argmax would nest the running best into every branch: 2^k blowup)."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("__q"),
                    F.array(*[F.lit(int(x)).cast("bigint") for x in vec]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            for vec in centroids
        ]
    )


def _batch_q_matrix(qs, dim: int):
    """Stack a pandas Series of quantized-vector cells into an int64 matrix
    plus a validity mask. A cell that is NULL, contains NULLs, or whose
    length differs from ``dim`` is masked out — the JVM expression path
    produced a NULL dot (zip_with pads length mismatches with NULLs, and
    NULL propagates through the product/sum), hence a NULL cluster, for
    exactly those rows."""
    import numpy as np

    n = len(qs)
    mat = np.zeros((n, dim), dtype=np.int64)
    ok = np.zeros(n, dtype=bool)
    for i, q in enumerate(qs):
        if q is None:
            continue
        try:
            a = np.asarray(q)
        except (TypeError, ValueError):
            continue
        if a.shape != (dim,):
            continue
        if a.dtype.kind != "i":
            # Arrow hands a list<bigint> cell CONTAINING nulls to pandas
            # as float64 with NaN (or object with None, which asarray
            # infers to float64/NaN) — an int64 cast of NaN is silent
            # garbage, so mask those rows instead (the JVM path nulled
            # them: NULL propagates through the integer dot)
            try:
                af = a.astype(np.float64)
            except (TypeError, ValueError):
                continue
            if not np.isfinite(af).all():
                continue
            ai = af.astype(np.int64)
            if not np.array_equal(ai.astype(np.float64), af):
                continue
            a = ai
        mat[i] = a.astype(np.int64, copy=False)
        ok[i] = True
    return mat, ok


def kmeans_fit_assign(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 2,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Distributed Lloyd k-means (spherical / cosine assignment) over an
    embedding column; returns the final assignment ``(id, cluster,
    cosine_sim)`` after ``iterations`` rounds.

    The cluster-scale shape (Spark MLlib's KMeans is the same loop):
    centroids are driver-side state (k x dim — bounded, independent of
    corpus size); each iteration is ONE corpus scan that assigns every
    vector to its best centroid via broadcast literals (pure Column HOF
    arithmetic, JVM codegen, no shuffle) plus one posexplode -> groupBy
    (cluster, position) mean (map-side combine; k*dim result rows
    collected).

    Exact-integer portability (what the cross-engine oracle gate relies
    on): vectors are L2-normalized then quantized to int64 at ``scale``
    (round(x / ||x|| * scale)); assignment maximizes the INTEGER dot
    product — for dim<=9000 at the default scale the products stay inside
    int64, so the argmax is bit-exact in any engine, no float tie
    ambiguity (ties break to the lower cluster id). Centroid update =
    per-position integer mean, rounded away-from-zero on .5 (Spark
    HALF_UP == DuckDB round). Init = the k vectors with the smallest
    MINSTD bucket of id (portable int64 sampler, as in
    training.estimate_u). An empty cluster keeps its previous centroid.
    ``cosine_sim`` = dot / scale^2 — the cosine up to quantization (~1e-6).
    """
    staged, centroids, _assign = _kmeans_int_index(
        corpus, k, iterations, embedding_col, id_col, scale
    )
    return _assign(centroids).select(
        id_col,
        "cluster",
        F.round(F.col("__dot").cast("double") / (scale * scale), 6).alias("cosine_sim"),
    )


def _kmeans_int_index(
    corpus: DataFrame,
    k: int,
    iterations: int,
    embedding_col: str,
    id_col: str,
    scale: int,
    train_fraction: "Optional[float]" = None,
):
    """The exact-int64 spherical-k-means index build shared by
    :func:`kmeans_fit_assign` and :func:`ivf_topk_portable`.

    Returns ``(staged, centroids, assign)``: the persisted quantized corpus
    ``(id, __q)``, the final integer centroid vectors, and an ``assign``
    closure producing ``(id, __q, cluster, __dot)``.

    ``train_fraction``: train the centroids on a deterministic MINSTD
    subset (``bucket(id) < fraction·1e6`` — the same portable sampler as
    ``estimate_u``) instead of the full corpus; the final assignment
    still covers every vector. This is FAISS's standard quantizer-
    training economy (train on ~100k–1M samples however big the corpus):
    Lloyd iterations cost O(train · k) instead of O(N · k), and at 100 TB
    the training scans are the dominant index-build cost. Deterministic
    and engine-replayable (an oracle replays the subset with the same
    bucket predicate)."""
    from .curation import _minstd_bucket

    # materialize the quantized vectors ONCE: without the persist barrier
    # Catalyst's CollapseProject inlines the normalize+quantize expression
    # into every one of the k dot products in every iteration (k * iters
    # recomputes per row, measured 17x slower at sf0.1)
    staged = _quantize_int(corpus, embedding_col, id_col, scale).persist()
    train = staged
    if train_fraction is not None:
        if not 0 < train_fraction <= 1:
            raise ValueError("train_fraction must be in (0, 1]")
        thr = int(round(float(train_fraction) * 1_000_000))
        train = staged.where(_minstd_bucket(id_col) < F.lit(thr)).persist()

    def _assign_df(df: DataFrame, centroids: list[list[int]]) -> DataFrame:
        # Vectorized assignment (guide §4.2): the expression form —
        # _int_dot_array's k interpreted zip_with/aggregate lambdas —
        # executes 2*k*dim interpreted lambda calls PER ROW; at sf0.1 the
        # corpus pays that k+1 times (k=8: one scan per Lloyd iteration
        # plus the final assignment), measured as kmeans_assign's 13.8s
        # floor. One mapInPandas computes the same integer dot products as
        # a single NumPy int64 matmul per batch. Exactness: int64 addition
        # is associative mod 2^64 (any accumulation order gives the very
        # bits the JVM fold produced, even on overflow), and argmax
        # returns the FIRST maximum — the same lowest-cluster-id tie-break
        # as array_position(__dots, array_max(__dots)). Rows the JVM path
        # nulled (NULL / length-mismatched vectors) are nulled identically
        # (see _batch_q_matrix).
        import numpy as np

        C = np.array(
            [[int(x) for x in vec] for vec in centroids], dtype=np.int64
        )
        dim = C.shape[1] if C.ndim == 2 and C.size else 0
        id_type = dict(df.dtypes)[id_col]
        schema = (
            f"{id_col} {id_type}, __q array<bigint>,"
            " cluster bigint, __dot bigint"
        )

        def kernel(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                qs = pdf["__q"]
                mat, ok = _batch_q_matrix(qs, dim)
                dots = mat @ C.T
                cl = dots.argmax(axis=1).astype(np.int64)
                best = dots[np.arange(len(qs)), cl]
                cl_s = pd.array(cl, dtype="Int64")
                best_s = pd.array(best, dtype="Int64")
                cl_s[~ok] = pd.NA
                best_s[~ok] = pd.NA
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "__q": qs,
                        "cluster": cl_s,
                        "__dot": best_s,
                    }
                )

        return df.select(F.col(id_col), F.col("__q")).mapInPandas(
            kernel, schema
        )

    def _assign(centroids: list[list[int]]) -> DataFrame:
        return _assign_df(staged, centroids)

    init_rows = (
        train.withColumn("__b", _minstd_bucket(id_col))
        .orderBy("__b", id_col)
        .limit(k)
        .collect()
    )
    if len(init_rows) < k and train is not staged:
        # the MINSTD subset is too small to seed k centroids — fall back to
        # full-corpus training rather than silently shrinking k
        train.unpersist()
        train = staged
        init_rows = (
            train.withColumn("__b", _minstd_bucket(id_col))
            .orderBy("__b", id_col)
            .limit(k)
            .collect()
        )
    if not init_rows:
        raise ValueError("k-means training corpus is empty")
    centroids = [[int(x) for x in r["__q"]] for r in init_rows]
    k = len(centroids)

    for _ in range(max(0, iterations)):
        # One FUSED pass per Lloyd iteration (guide §2.3/§4.2): assignment
        # and per-(cluster, position) partial sums happen inside one
        # mapInPandas kernel that ships ONLY __q in and k*dim partial rows
        # out per batch — the previous shape posexploded N*dim assignment
        # rows through a hash aggregate after paying the interpreted
        # zip_with dots per row. The final mean stays the SAME Spark
        # expression on the same exact integers (sum of int64 partials ==
        # the int64 sum over exploded elements in any order; sum(pcount)
        # == the per-(cluster,pos) row count), so round(sum/count) is
        # bit-identical.
        import numpy as np

        C_it = np.array(
            [[int(x) for x in vec] for vec in centroids], dtype=np.int64
        )
        dim_it = C_it.shape[1] if C_it.ndim == 2 and C_it.size else 0
        k_it = len(centroids)

        def partials(batches, _C=C_it, _dim=dim_it, _k=k_it):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                mat, ok = _batch_q_matrix(pdf["__q"], _dim)
                m = mat[ok]
                if not len(m) or not _dim:
                    continue
                cl = (m @ _C.T).argmax(axis=1)
                sums = np.zeros((_k, _dim), dtype=np.int64)
                counts = np.zeros(_k, dtype=np.int64)
                for c in range(_k):
                    sel = cl == c
                    nc = int(sel.sum())
                    if nc:
                        sums[c] = m[sel].sum(axis=0)
                        counts[c] = nc
                ks = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(ks, _dim).astype(np.int64),
                        "pos": np.tile(
                            np.arange(_dim, dtype=np.int32), len(ks)
                        ),
                        "psum": sums[ks].ravel(),
                        "pcount": np.repeat(counts[ks], _dim),
                    }
                )

        means = (
            train.select("__q")
            .mapInPandas(
                partials, "cluster bigint, pos int, psum bigint, pcount bigint"
            )
            .groupBy("cluster", "pos")
            .agg(
                F.round(F.sum("psum").cast("double") / F.sum("pcount"))
                .cast("bigint")
                .alias("m")
            )
            .collect()
        )
        new = {c: list(vec) for c, vec in enumerate(centroids)}  # empty keeps prev
        upd: dict[int, dict[int, int]] = {}
        for r in means:
            upd.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        for c, coords in upd.items():
            vec = [coords[p] for p in range(len(coords))]
            # renormalize back to ||c|| ~= scale (spherical k-means), in
            # engine-portable arithmetic: int64 sum of squares (exact),
            # IEEE sqrt/div (correctly rounded, order-free), half-AWAY
            # rounding (Spark HALF_UP == DuckDB round; python round() is
            # half-even so it is not used)
            nrm = math.sqrt(sum(x * x for x in vec))
            if nrm > 0:
                vec = [
                    int(math.floor(x * float(scale) / nrm + 0.5))
                    if x >= 0
                    else -int(math.floor(-x * float(scale) / nrm + 0.5))
                    for x in vec
                ]
            new[c] = vec
        centroids = [new[c] for c in range(k)]

    if train is not staged:
        # the Lloyd loop's final collect was the last action over the
        # training subset — release its cache (staged itself stays
        # persisted: the returned assign closure scans it)
        train.unpersist()
    return staged, centroids, _assign


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    num_cells: int = 8,
    nprobe: int = 2,
    iterations: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF top-k with an engine-portable coarse quantizer.

    Same shape as :func:`ivf_topk` (assign corpus to cells once, probe each
    query's ``nprobe`` nearest cells, exact-cosine rank inside candidates) but
    the coarse quantizer is the exact-int64 spherical k-means of
    :func:`kmeans_fit_assign`: quantized vectors, integer dot products, and
    deterministic tie-breaks make cell assignment and probe selection
    bit-identical in any engine — which is what lets the DuckDB oracle gate
    reproduce the whole index, not just spot-check recall.

    Scale shape: centroids are driver-side (``num_cells`` x dim, independent
    of corpus size); corpus assignment is one scan of broadcast centroid
    literals (JVM HOF codegen, no shuffle); candidate generation is an
    equi-join on cell id."""
    staged, centroids, _assign = _kmeans_int_index(
        corpus, num_cells, iterations, embedding_col, id_col, scale
    )
    assigned = _assign(centroids).select(
        F.col(id_col).alias("neighbour_id"), "cluster"
    )
    # probe: quantize queries identically, rank cells by exact integer dot
    qprobe = (
        _quantize_int(queries, embedding_col, id_col, scale)
        .select(
            F.col(id_col).alias("query_id"),
            F.posexplode(_int_dot_array(centroids)).alias("cluster", "__dot"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("__dot"), F.asc("cluster"))
    probes = (
        qprobe.withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", F.col("cluster").cast("bigint").alias("cluster"))
    )
    cand = assigned.join(F.broadcast(probes), on="cluster").where(
        F.col("neighbour_id") != F.col("query_id")
    )
    ce = corpus.select(
        F.col(id_col).alias("neighbour_id"), F.col(embedding_col).alias("__c_emb")
    )
    qe = queries.select(
        F.col(id_col).alias("query_id"), F.col(embedding_col).alias("__q_emb")
    )
    scored = (
        cand.join(ce, on="neighbour_id")
        .join(F.broadcast(qe), on="query_id")
        .select(
            "query_id",
            "neighbour_id",
            _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbour_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    num_tables: int = 4,
    dim: Optional[int] = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing any of
    ``num_tables`` LSH bucket signatures with the query, then exact cosine
    rank within candidates.

    Measured operating point (BENCH_ANN, 1M 64-dim clustered vectors,
    num_planes=12): recall@10 ≈ 0.56 — random-hyperplane buckets are a
    cheap candidate GENERATOR, not a high-recall index. When recall
    matters, prefer :func:`ivf_topk_portable` / :func:`sq8_topk` /
    :func:`ivf_pq_topk` (all ≥0.84 at their bench operating points);
    use LSH when an index build (k-means training) is not affordable.
    """
    if dim is None:
        dim = len(corpus.select(embedding_col).first()[0])
    cand = None
    for t in range(num_tables):
        planes = random_hyperplanes(dim, num_planes, seed=seed + 1000 * t)
        sig = lambda col: lsh_bucket_signature(col, planes)  # noqa: E731
        c = corpus.select(
            F.col(id_col).alias("neighbour_id"),
            F.col(embedding_col).alias("__c_emb"),
            sig(F.col(embedding_col)).alias("__bucket"),
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(embedding_col).alias("__q_emb"),
            sig(F.col(embedding_col)).alias("__bucket"),
        )
        pairs = c.join(F.broadcast(q), on="__bucket").where(
            F.col("neighbour_id") != F.col("query_id")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.dropDuplicates(["query_id", "neighbour_id"])
    scored = cand.select(
        "query_id",
        "neighbour_id",
        _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbour_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    candidates_per_partition: Optional[int] = None,
) -> DataFrame:
    """Cross-table exact top-k cosine join — the serving shape ("for each of
    these Q query vectors, the k nearest corpus vectors") at corpus scale.

    :func:`brute_force_topk` shuffles ALL |corpus| x |Q| scored pairs into
    the ranking window; this variant reduces FIRST: a ``mapInPandas`` pass
    computes each corpus partition's local top-m per query with one numpy
    matmul per Arrow batch (the faiss-style sharded search), so only
    ``partitions x m x |Q|`` candidate rows ever cross the wire. The final
    exact rank re-computes cosine JVM-side with the same left-assoc
    ``F.aggregate`` fold the single-table path uses (bit-identical to the
    DuckDB oracle), so the numpy pass only has to be right about SET
    membership, with ``m >= 2k`` slack absorbing float-order divergence.

    Contract: the query side is small (it is collected to the driver and
    closed over by the partition function — the serving regime). The corpus
    is scanned once and never shuffled; candidate re-rank joins are
    broadcasts of candidate-derived tables. Output matches
    ``brute_force_topk`` (query_id, rank, neighbour_id, cosine_sim), self
    matches excluded.
    """
    import numpy as np

    m = candidates_per_partition or max(2 * k, k + 8)
    q_rows = queries.select(id_col, embedding_col).collect()
    if not q_rows:
        raise ValueError("queries side is empty")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)

    def local_topk(batches):
        import pandas as pd

        ids_acc, sims_acc = [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["e"].to_numpy())
            ids = pdf["i"].to_numpy(dtype=np.int64)
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = xn @ q_norm.T  # (batch, Q)
            # keep this batch's top-m per query to bound accumulator size
            take = min(m, sims.shape[0])
            part = np.argpartition(-sims, take - 1, axis=0)[:take]
            ids_acc.append(ids[part])            # (take, Q)
            sims_acc.append(np.take_along_axis(sims, part, axis=0))
        if not ids_acc:
            return
        all_ids = np.concatenate(ids_acc, axis=0)    # (sum_take, Q)
        all_sims = np.concatenate(sims_acc, axis=0)
        take = min(m, all_sims.shape[0])
        part = np.argpartition(-all_sims, take - 1, axis=0)[:take]
        out_ids = np.take_along_axis(all_ids, part, axis=0)  # (take, Q)
        qcol = np.broadcast_to(q_ids, out_ids.shape)
        yield pd.DataFrame(
            {
                "query_id": qcol.ravel(),
                "neighbour_id": out_ids.ravel(),
            }
        )

    src = corpus.select(
        F.col(id_col).cast("bigint").alias("i"),
        F.col(embedding_col).cast("array<double>").alias("e"),
    )
    cand = (
        src.mapInPandas(local_topk, "query_id long, neighbour_id long")
        .where(F.col("query_id") != F.col("neighbour_id"))
        .distinct()
    )

    # exact JVM re-rank on candidates only; corpus rows fetched by semi-join
    # against the broadcast candidate id set (corpus never shuffled)
    cand_ids = cand.select(F.col("neighbour_id").alias(id_col)).distinct()
    c_emb = (
        corpus.join(F.broadcast(cand_ids), id_col, "leftsemi")
        .select(
            F.col(id_col).cast("bigint").alias("neighbour_id"),
            F.col(embedding_col).alias("__c_emb"),
        )
    )
    q_emb = queries.select(
        F.col(id_col).cast("bigint").alias("query_id"),
        F.col(embedding_col).alias("__q_emb"),
    )
    scored = (
        cand.join(F.broadcast(q_emb), "query_id")
        .join(F.broadcast(c_emb), "neighbour_id")
        .select(
            "query_id",
            "neighbour_id",
            _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    rerank_candidates: Optional[int] = None,
) -> DataFrame:
    """Top-k cosine search over SQ8-quantized vectors: both sides are
    L2-normalized and quantized to int8 range (``round(x/||x||*127)`` —
    the storage format ``embeddings.quantize_embeddings`` targets), the
    candidate generation ranks by the EXACT int64 dot product of the
    quantized vectors (bit-identical in any engine — at 127 the per-dim
    products stay far inside int64), and the survivors get an exact-cosine
    re-rank on the original embeddings.

    Scale design: identical join shape to :func:`brute_force_topk`
    (broadcast the small query side, window-rank), but the scored payload
    is the 4x-smaller int8 array and the candidate cut happens before the
    expensive exact re-rank — only ``|Q| x m`` pairs re-read the float
    embeddings, via a broadcast-able candidate list.  Pure Column HOFs
    throughout; no Python.
    """
    from ..internals.misc import spread_to_cores

    m = rerank_candidates or max(2 * k, k + 8)
    qc = _quantize_int(spread_to_cores(corpus), embedding_col, id_col, 127).select(
        F.col(id_col).alias("neighbour_id"), F.col("__q").alias("__cq")
    )
    qq = _quantize_int(queries, embedding_col, id_col, 127).select(
        F.col(id_col).alias("query_id"), F.col("__q").alias("__qq")
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("__cq"), F.col("__qq"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__dot"), F.asc("neighbour_id")
    )
    cand = (
        qc.crossJoin(F.broadcast(qq))
        .where(F.col("neighbour_id") != F.col("query_id"))
        .select("query_id", "neighbour_id", int_dot.alias("__dot"))
        .withColumn("__crank", F.row_number().over(w))
        .where(F.col("__crank") <= m)
        .select("query_id", "neighbour_id")
    )
    qe = queries.select(
        F.col(id_col).alias("query_id"), F.col(embedding_col).alias("__q_emb")
    )
    ce = corpus.select(
        F.col(id_col).alias("neighbour_id"), F.col(embedding_col).alias("__c_emb")
    )
    scored = (
        F.broadcast(cand)
        .join(ce, "neighbour_id")
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "neighbour_id",
            _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def _pq_key_arrays(qs_col, codebooks_s: list[list[int]]):
    """ARRAY of exact-int64 assignment keys ``||c||² - 2·q·c`` for the
    subvector column against each centroid of one subspace — the argmin of
    this key equals the argmin of the true squared L2 (the ``||q||²`` term
    is constant across centroids). Each dot expression appears exactly
    once (same no-WHEN-chain rationale as :func:`_int_dot_array`)."""
    return F.array(
        *[
            F.lit(sum(x * x for x in c)).cast("bigint")
            - 2
            * F.aggregate(
                F.zip_with(
                    qs_col,
                    F.array(*[F.lit(int(x)).cast("bigint") for x in c]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            for c in codebooks_s
        ]
    )


def pq_train_encode(
    corpus: DataFrame,
    m: int = 4,
    codebook_size: int = 16,
    iterations: int = 2,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
):
    """Product quantization (Jégou et al., TPAMI 2011): split each
    L2-normalized, integer-quantized vector into ``m`` contiguous
    subspaces and vector-quantize each subspace with its own
    ``codebook_size``-centroid k-means. Returns ``(codes_df, codebooks)``:
    ``codes_df`` = (``id_col``, ``codes`` array<int> of length m — the
    compressed representation, m small ints per vector instead of dim
    floats), ``codebooks`` = m x codebook_size x (dim/m) integer centroid
    lists (driver-side state, bounded — independent of corpus size).

    Exact-integer portability (same contract as :func:`kmeans_fit_assign`):
    quantization, the squared-L2 assignment key, and the per-(subspace,
    cluster, position) integer-mean update are all exact int64 arithmetic
    — any engine replays the training digit-for-digit. Init per subspace =
    the same ``codebook_size`` MINSTD-bucket-smallest rows' subvectors;
    assignment ties break to the lower code id; an empty cluster keeps its
    previous centroid. Subspace centroids use plain integer means (no
    spherical renorm — PQ subvectors are not unit vectors).

    Scale shape: ONE persisted quantized corpus scan; each training
    iteration is one long-form (id, subspace, subvector) pass — assignment
    via a bounded WHEN-on-subspace chain of centroid-literal key arrays
    (pure Column HOFs, JVM codegen, no shuffle, no join) plus one
    map-side-combined groupBy(subspace, code, position) whose result is
    m·codebook_size·(dim/m) rows collected. Encoding is one more scan of
    the wide frame — no join, no shuffle.
    """
    staged = _quantize_int(corpus, embedding_col, id_col, scale).persist()
    return _pq_core(staged, id_col, m, codebook_size, iterations)


def _pq_core(
    staged: DataFrame,
    id_col: str,
    m: int,
    codebook_size: int,
    iterations: int,
    train_df: "Optional[DataFrame]" = None,
):
    """PQ train+encode over an already-staged integer-vector frame
    ``(id_col, __q array<bigint>)`` — the shared core behind
    :func:`pq_train_encode` (raw vectors) and :func:`ivf_pq_topk`'s
    residual path (``__q`` = vector − coarse centroid). Same exact-int64
    contract and plan shape as documented on :func:`pq_train_encode`.
    ``train_df``: optional subset to TRAIN the codebooks on (init + mean
    updates); encoding always covers the full ``staged`` frame."""
    dim_row = staged.select(F.size("__q").alias("d")).head()
    if dim_row is None:
        staged.unpersist()
        empty = staged.sparkSession.createDataFrame(
            [], f"{id_col} bigint, codes array<int>"
        )
        return empty, []
    dim = int(dim_row["d"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    train = train_df if train_df is not None else staged

    from .curation import _minstd_bucket

    init_rows = (
        train.withColumn("__b", _minstd_bucket(id_col))
        .orderBy("__b", id_col)
        .limit(codebook_size)
        .collect()
    )
    if len(init_rows) < codebook_size and train is not staged:
        # training subset too small to seed the codebooks — fall back to
        # the full staged frame rather than silently shrinking them
        train = staged
        init_rows = (
            train.withColumn("__b", _minstd_bucket(id_col))
            .orderBy("__b", id_col)
            .limit(codebook_size)
            .collect()
        )
    codebooks = [
        [[int(x) for x in r["__q"][s * sub : (s + 1) * sub]] for r in init_rows]
        for s in range(m)
    ]

    long_form = train.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("__q", s * sub + 1, sub) for s in range(m)])
        ).alias("__s", "__qs"),
    )

    for _ in range(max(0, iterations)):
        keys = None
        for s in range(m):
            arr = _pq_key_arrays(F.col("__qs"), codebooks[s])
            keys = (
                F.when(F.col("__s") == s, arr)
                if keys is None
                else keys.when(F.col("__s") == s, arr)
            )
        assigned = long_form.withColumn("__keys", keys).withColumn(
            "__code",
            (F.expr("array_position(__keys, array_min(__keys))") - 1).cast(
                "int"
            ),
        )
        means = (
            assigned.select("__s", "__code", F.posexplode("__qs"))
            .groupBy("__s", "__code", "pos")
            .agg(
                F.round(F.sum("col").cast("double") / F.count(F.lit(1)))
                .cast("bigint")
                .alias("mu")
            )
            .collect()
        )
        upd: dict[tuple, dict[int, int]] = {}
        for r in means:
            upd.setdefault((int(r["__s"]), int(r["__code"])), {})[
                int(r["pos"])
            ] = int(r["mu"])
        for (s, c), coords in upd.items():
            codebooks[s][c] = [coords[p] for p in range(len(coords))]

    # encode on the wide frame: stage each subspace's key array as a named
    # column so its dot products are computed once, not re-inlined into
    # both array_position and array_min
    staged_keys = staged
    for s in range(m):
        staged_keys = staged_keys.withColumn(
            f"__k{s}",
            _pq_key_arrays(F.slice("__q", s * sub + 1, sub), codebooks[s]),
        )
    codes_df = staged_keys.select(
        F.col(id_col),
        F.array(
            *[
                (
                    F.expr(f"array_position(__k{s}, array_min(__k{s}))") - 1
                ).cast("int")
                for s in range(m)
            ]
        ).alias("codes"),
    )
    return codes_df, codebooks


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codebook_size: int = 16,
    iterations: int = 2,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    rerank_candidates: Optional[int] = None,
) -> DataFrame:
    """Top-k search by asymmetric distance computation (ADC) over
    PQ-compressed vectors: train/encode via :func:`pq_train_encode`, build
    each query's m x codebook_size lookup table of EXACT integer squared
    distances driver-side (queries are the small side, like every ANN
    entry point here), then score every corpus vector as the sum of m LUT
    lookups indexed by its codes — the scan touches only the m-int code
    column, never the float embeddings. Returns (query_id, rank,
    neighbour_id, adc_dist): rank 1-based by ascending ``adc_dist``
    (exact int64, bit-identical cross-engine), ties to the lower
    neighbour id; the query's own row is excluded.

    Scale shape: compression is the point — at m=8 a 768-dim float corpus
    scans 8 ints/vector instead of 768 doubles (~380x less IO); scoring is
    a broadcast crossJoin of |Q| LUT rows against the code scan with pure
    HOF arithmetic, then one per-query window over the small scored set.
    For selective search at even larger scale, compose with
    :func:`ivf_topk_portable`'s cell routing (IVF-PQ = route to nprobe
    cells, ADC within them).

    Recall honesty: ADC ranks by a LOSSY code distance — on structureless
    (e.g. random synthetic) vectors, small codebooks rank poorly; pass
    ``rerank_candidates`` to take that many ADC survivors per query and
    re-rank them by exact cosine on the original embeddings (the sq8_topk
    pattern: only |Q| x rerank_candidates pairs ever re-read the floats),
    returning (query_id, rank, neighbour_id, cosine_sim) instead.

    On CLUSTERED corpora raw-vector codes are the wrong tool at any
    rerank depth (BENCH_ANN: recall@10 0.17 with rerank on a 256-center
    1M corpus — the codes spend their budget re-describing cluster
    structure): use :func:`ivf_pq_topk` with ``residual=True`` (IVFADC),
    which encodes ``v − coarse_centroid`` and recovers the recall with
    the same bit budget. This flat-PQ entry point is the right shape
    only for corpora without strong cluster structure.
    """
    codes_df, codebooks = pq_train_encode(
        corpus,
        m=m,
        codebook_size=codebook_size,
        iterations=iterations,
        embedding_col=embedding_col,
        id_col=id_col,
        scale=scale,
    )
    if not codebooks:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id bigint, rank int, neighbour_id bigint, adc_dist bigint"
        )
    qrows = _quantize_int(queries, embedding_col, id_col, scale).collect()
    sub = len(codebooks[0][0])
    lut_rows = []
    for r in qrows:
        qv = [int(x) for x in r["__q"]]
        lut = [
            [
                sum(
                    (qv[s * sub + i] - c[i]) * (qv[s * sub + i] - c[i])
                    for i in range(sub)
                )
                for c in codebooks[s]
            ]
            for s in range(len(codebooks))
        ]
        lut_rows.append((int(r[id_col]), lut))
    spark = corpus.sparkSession
    luts = spark.createDataFrame(
        lut_rows, f"query_id bigint, __lut array<array<bigint>>"
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__lut"),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes_df.withColumnRenamed(id_col, "neighbour_id")
        .crossJoin(F.broadcast(luts))
        .where(F.col("neighbour_id") != F.col("query_id"))
        .select("query_id", "neighbour_id", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbour_id")
    )
    if rerank_candidates is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbour_id", "adc_dist")
        )
    cand = (
        scored.withColumn("__crank", F.row_number().over(w))
        .where(F.col("__crank") <= int(rerank_candidates))
        .select("query_id", "neighbour_id")
    )
    qe = queries.select(
        F.col(id_col).alias("query_id"), F.col(embedding_col).alias("__q_emb")
    )
    ce = corpus.select(
        F.col(id_col).alias("neighbour_id"), F.col(embedding_col).alias("__c_emb")
    )
    rescored = (
        F.broadcast(cand)
        .join(ce, "neighbour_id")
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "neighbour_id",
            _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    codebook_size: int = 16,
    iterations: int = 2,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    rerank_candidates: "Optional[int] | str" = "auto",
    residual: bool = True,
    train_fraction: "Optional[float]" = None,
) -> DataFrame:
    """IVF-PQ: the 100 TB ANN workhorse — route each query to its
    ``nprobe`` nearest coarse cells (:func:`ivf_topk_portable`'s exact-int64
    spherical k-means), then rank ONLY those cells' vectors by PQ ADC.
    The scan cost per query is (corpus/num_cells)·nprobe rows of m small
    ints — both the selectivity lever (cells) and the compression lever
    (codes) compose.

    With ``residual=True`` (the default) this is IVFADC proper (Jégou et
    al., TPAMI 2011 §IV): PQ codebooks are trained on and codes encode
    the RESIDUAL ``v − centroid(cell(v))``, and each query builds one
    distance LUT per probed cell from ITS residual against that cell's
    centroid. This matters enormously on clustered data: raw-vector
    codes spend their entire budget re-describing the coarse cluster
    structure (every vector in a cell shares the same dominant
    direction), so they cannot separate within-cell neighbours —
    measured recall@10 collapsed to 0.17 on a 256-center corpus, vs
    ≥0.9 for residual codes with the same bit budget. Codebooks are
    shared across cells (classic IVFADC — per-cell codebooks are a
    different storage contract).

    ``rerank_candidates="auto"`` (default) takes ``20·k`` ADC survivors
    per query and re-ranks them by exact cosine on the original
    embeddings (returns ``cosine_sim``) — at the BENCH_ANN operating
    point (1M vectors, 256 cells, m=16) this is the difference between
    recall@10 0.855 (rerank) and 0.225 (raw residual ADC): 64-bit codes
    rank candidates well but cannot resolve the final ordering, so
    treat the exact rerank as mandatory and the ADC pass as candidate
    generation. Pass an int for explicit depth
    or ``None`` for raw ADC ranking (returns ``adc_dist``; also the
    composition-law path: ``residual=False, nprobe=num_cells,
    rerank_candidates=None`` equals :func:`pq_topk` exactly — pytest
    pins it). All arithmetic is exact int64 (residuals are differences
    of quantized ints; LUT entries are integer squared L2), so
    candidate sets and ADC ranks replay bit-identically in any engine.

    ``train_fraction``: train BOTH quantizers (coarse cells and PQ
    codebooks) on a deterministic MINSTD subset of the corpus — FAISS's
    standard economy; at 100 TB the Lloyd iterations are the dominant
    index-build cost and a ~100k–1M sample trains centroids just as
    well. Assignment, residuals, and encoding always cover the full
    corpus. Deterministic and engine-replayable.

    Operating point: ``num_cells ≈ sqrt(N)`` (the IVFADC default). A
    coarse quantizer with FEWER cells than the corpus's latent cluster
    structure leaves that structure in the residuals and codes can't
    separate within-cell neighbours — BENCH_ANN measured recall 0.165
    at 64 cells vs ≥0.9 at 256 cells on a 256-center corpus.

    Cache lifecycle: the quantized corpus (and, with ``residual=True``,
    the residual frame) stay ``persist()``-ed — the returned lazy plan
    re-reads them, so they cannot be released here. Long-lived sessions
    issuing many calls should use :func:`ivfadc_build` +
    :func:`ivfadc_search` instead (build materializes the index to
    parquet and unpersists everything; search holds no caches) — that
    is also the serving shape: train+encode is paid once per corpus,
    not per call.
    """
    if rerank_candidates == "auto":
        rerank_candidates = 20 * k
    staged, centroids, _assign = _kmeans_int_index(
        corpus, num_cells, iterations, embedding_col, id_col, scale,
        train_fraction=train_fraction,
    )
    assigned = _assign(centroids).select(
        F.col(id_col).alias("neighbour_id"), "__q", "cluster"
    )
    spark = corpus.sparkSession
    if residual:
        # residual frame: __q − centroid(cluster), via one broadcast join
        # against the (num_cells x dim) centroid table — int64 exact
        cent_df = spark.createDataFrame(
            [(c, [int(x) for x in vec]) for c, vec in enumerate(centroids)],
            "cluster bigint, __cent array<bigint>",
        )
        res_staged = (
            assigned.join(F.broadcast(cent_df), "cluster")
            .select(
                F.col("neighbour_id").alias(id_col),
                F.zip_with(
                    "__q", "__cent", lambda a, b: a - b
                ).alias("__q"),
            )
            .persist()
        )
        res_train = None
        if train_fraction is not None:
            from .curation import _minstd_bucket

            res_train = res_staged.where(
                _minstd_bucket(id_col)
                < F.lit(int(round(float(train_fraction) * 1_000_000)))
            )
        codes_df, codebooks = _pq_core(
            res_staged, id_col, m, codebook_size, iterations,
            train_df=res_train,
        )
    else:
        # staged is (id_col, __q) and already persisted by the index build
        pq_train = None
        if train_fraction is not None:
            from .curation import _minstd_bucket

            pq_train = staged.where(
                _minstd_bucket(id_col)
                < F.lit(int(round(float(train_fraction) * 1_000_000)))
            )
        codes_df, codebooks = _pq_core(
            staged, id_col, m, codebook_size, iterations, train_df=pq_train
        )
    if not codebooks:
        return spark.createDataFrame(
            [], "query_id bigint, rank int, neighbour_id bigint, adc_dist bigint"
        )
    return _ivfadc_search_core(
        assigned.select("neighbour_id", "cluster"),
        centroids,
        codebooks,
        queries,
        k=k,
        nprobe=nprobe,
        residual=residual,
        rerank_candidates=rerank_candidates,
        corpus=corpus,
        scale=scale,
        id_col=id_col,
        embedding_col=embedding_col,
        codes_df=codes_df,
    )


def _ivfadc_search_core(
    coded: DataFrame,
    centroids: list,
    codebooks: list,
    queries: DataFrame,
    *,
    k: int,
    nprobe: int,
    residual: bool,
    rerank_candidates: "Optional[int]",
    corpus: "Optional[DataFrame]",
    scale: int,
    id_col: str,
    embedding_col: str,
    codes_df: "Optional[DataFrame]" = None,
) -> DataFrame:
    """The IVFADC query half shared by :func:`ivf_pq_topk` (in-memory
    convenience) and :func:`ivfadc_search` (pre-built parquet index).

    ``coded``: one row per corpus vector — ``(neighbour_id, cluster,
    codes array<int>)``, or ``(neighbour_id, cluster)`` with the codes
    supplied separately via ``codes_df`` ``(id_col, codes)``. The split
    form keeps the in-memory wrapper's plan shape: the codes frame joins
    AFTER the LUT join has shrunk the left side to probed-cell rows, so
    AQE broadcasts the shrunken side instead of shuffling the full codes
    frame on id. The combined form is the parquet-index path, where codes
    and cluster live in one cluster-partitioned table.
    Probe selection and the per-(query, probed cell)
    distance LUTs run driver-side — queries are the small side (the
    standing contract of every ANN entry point here), and the probe argmax
    over integer dots is the same arithmetic the distributed path uses, so
    candidate sets replay bit-equally. The probed-cell set is also pushed
    as a ``cluster IN (...)`` filter on ``coded`` BEFORE the LUT join: on
    a cluster-partitioned index parquet this is partition pruning — only
    ``nprobe``·|Q| cell directories are ever read."""
    spark = queries.sparkSession
    sub = len(codebooks[0][0])
    qrows = _quantize_int(queries, embedding_col, id_col, scale).collect()

    def _lut_for(rq: list) -> list:
        return [
            [
                sum(
                    (rq[s * sub + i] - c[i]) * (rq[s * sub + i] - c[i])
                    for i in range(sub)
                )
                for c in codebooks[s]
            ]
            for s in range(len(codebooks))
        ]

    lut_rows = []
    for r in qrows:
        qv = [int(x) for x in r["__q"]]
        dots = [
            sum(a * b for a, b in zip(qv, cent)) for cent in centroids
        ]
        probe_cells = sorted(
            range(len(centroids)), key=lambda c: (-dots[c], c)
        )[: int(nprobe)]
        for cell in probe_cells:
            rq = (
                [a - b for a, b in zip(qv, centroids[cell])]
                if residual
                else qv
            )
            lut_rows.append((int(r[id_col]), cell, _lut_for(rq)))
    luts = spark.createDataFrame(
        lut_rows,
        "query_id bigint, cluster bigint, __lut array<array<bigint>>",
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__lut"),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    probed = sorted({cell for (_, cell, _) in lut_rows})
    cand = (
        coded.where(F.col("cluster").isin(probed))
        .join(F.broadcast(luts), on="cluster")
        .where(F.col("neighbour_id") != F.col("query_id"))
    )
    if codes_df is not None:
        cand = cand.join(
            codes_df.withColumnRenamed(id_col, "neighbour_id"), "neighbour_id"
        )
    cand = cand.select("query_id", "neighbour_id", adc.alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbour_id")
    )
    if rerank_candidates is None:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbour_id", "adc_dist")
        )
    if corpus is None:
        raise ValueError(
            "exact-cosine rerank needs the original embeddings: pass "
            "corpus=, or rerank_candidates=None for raw ADC ranking"
        )
    shortlist = (
        cand.withColumn("__crank", F.row_number().over(w))
        .where(F.col("__crank") <= int(rerank_candidates))
        .select("query_id", "neighbour_id")
    )
    qe = queries.select(
        F.col(id_col).alias("query_id"), F.col(embedding_col).alias("__q_emb")
    )
    ce = corpus.select(
        F.col(id_col).alias("neighbour_id"), F.col(embedding_col).alias("__c_emb")
    )
    rescored = (
        F.broadcast(shortlist)
        .join(ce, "neighbour_id")
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "neighbour_id",
            _sim(F.col("__q_emb"), F.col("__c_emb")).alias("cosine_sim"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbour_id", "cosine_sim")
    )


def ivfadc_build(
    corpus: DataFrame,
    index_path: str,
    *,
    num_cells: int = 8,
    m: int = 4,
    codebook_size: int = 16,
    iterations: int = 2,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    residual: bool = True,
    train_fraction: "Optional[float]" = None,
) -> dict:
    """Build an IVFADC index ONCE and persist it to parquet — the serving
    split of :func:`ivf_pq_topk` (which trains + encodes inside every
    call: 565–887s at 1M vectors, vs ~10s for a search against a
    pre-built index). Same pattern as ``bm25_index_write/read``
    (search.py): pay the coarse k-means + residual-PQ train + encode
    cost once per corpus, then run any number of query batches against
    the stored structure with :func:`ivfadc_search`.

    Layout under ``index_path``:

    - ``codes/``  — (``neighbour_id``, ``codes array<int>``) parquet,
      PARTITIONED BY ``cluster``: a search probes ``nprobe`` cells per
      query, and the probed-cell union is pushed down as a partition
      filter, so only those directories are read — on a 100 TB corpus
      the codes table is the big artifact and pruning is the whole point.
    - ``cells/`` — (cluster, centroid array<bigint>) — num_cells rows.
    - ``codebooks/`` — (s, c, vec array<bigint>) — m·codebook_size rows.
    - ``meta/`` — one row (scale, m, codebook_size, residual, id_col,
      num_cells) so the search side replays the exact build arithmetic.

    All arithmetic is the exact-int64 contract of :func:`ivf_pq_topk`
    (residual IVFADC by default, Jégou et al. TPAMI 2011 §IV); a search
    against the stored index returns bit-identical candidate sets and
    ADC ranks to a same-parameter in-memory ``ivf_pq_topk`` call —
    pytest pins the equality.

    Returns ``{"num_cells", "m", "codebook_size", "n_vectors"}``.
    """
    spark = corpus.sparkSession
    staged, centroids, _assign = _kmeans_int_index(
        corpus, num_cells, iterations, embedding_col, id_col, scale,
        train_fraction=train_fraction,
    )
    assigned = _assign(centroids).select(
        F.col(id_col).alias("neighbour_id"), "__q", "cluster"
    )
    res_staged = None
    if residual:
        cent_df = spark.createDataFrame(
            [(c, [int(x) for x in vec]) for c, vec in enumerate(centroids)],
            "cluster bigint, __cent array<bigint>",
        )
        res_staged = (
            assigned.join(F.broadcast(cent_df), "cluster")
            .select(
                F.col("neighbour_id").alias(id_col),
                F.zip_with("__q", "__cent", lambda a, b: a - b).alias("__q"),
            )
            .persist()
        )
        res_train = None
        if train_fraction is not None:
            from .curation import _minstd_bucket

            res_train = res_staged.where(
                _minstd_bucket(id_col)
                < F.lit(int(round(float(train_fraction) * 1_000_000)))
            )
        codes_df, codebooks = _pq_core(
            res_staged, id_col, m, codebook_size, iterations,
            train_df=res_train,
        )
    else:
        pq_train = None
        if train_fraction is not None:
            from .curation import _minstd_bucket

            pq_train = staged.where(
                _minstd_bucket(id_col)
                < F.lit(int(round(float(train_fraction) * 1_000_000)))
            )
        codes_df, codebooks = _pq_core(
            staged, id_col, m, codebook_size, iterations, train_df=pq_train
        )
    if not codebooks:
        raise ValueError("cannot build an IVFADC index over an empty corpus")

    coded = assigned.select("neighbour_id", "cluster").join(
        codes_df.withColumnRenamed(id_col, "neighbour_id"), "neighbour_id"
    )
    coded.write.partitionBy("cluster").mode("overwrite").parquet(
        f"{index_path}/codes"
    )
    spark.createDataFrame(
        [(c, [int(x) for x in vec]) for c, vec in enumerate(centroids)],
        "cluster bigint, centroid array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/cells")
    spark.createDataFrame(
        [
            (s, c, [int(x) for x in vec])
            for s, book in enumerate(codebooks)
            for c, vec in enumerate(book)
        ],
        "s int, c int, vec array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/codebooks")
    spark.createDataFrame(
        [
            (
                int(scale),
                int(m),
                int(codebook_size),
                bool(residual),
                str(id_col),
                len(centroids),
            )
        ],
        "scale bigint, m int, codebook_size int, residual boolean, "
        "id_col string, num_cells int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/meta")

    # the codes write materialized everything — release the build caches
    n_vectors = spark.read.parquet(f"{index_path}/codes").count()
    if res_staged is not None:
        res_staged.unpersist()
    staged.unpersist()
    return {
        "num_cells": len(centroids),
        "m": int(m),
        "codebook_size": int(codebook_size),
        "n_vectors": int(n_vectors),
    }


def ivfadc_search(
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    nprobe: int = 2,
    *,
    corpus: "Optional[DataFrame]" = None,
    rerank_candidates: "Optional[int] | str" = "auto",
    embedding_col: str = "embedding",
    id_col: Optional[str] = None,
) -> DataFrame:
    """Search a pre-built :func:`ivfadc_build` index: route each query to
    its ``nprobe`` nearest stored cells, rank ONLY those cells' codes by
    residual ADC, optionally rerank the top ``rerank_candidates``
    survivors by exact cosine against ``corpus`` (the original
    embeddings; required for rerank — the index stores codes, not
    vectors). ``rerank_candidates="auto"`` = ``20·k`` when ``corpus`` is
    given, else raw ADC ranking.

    The probed-cell union is pushed down as a partition filter on the
    cluster-partitioned codes parquet, so a query batch reads only
    ``nprobe``·|Q| cell directories — never the whole index. Centroids +
    codebooks (num_cells + m·codebook_size rows) are collected
    driver-side, same as the in-memory path.

    Bit-identical to a same-parameter :func:`ivf_pq_topk` call (pytest
    pins it): with rerank, returns ``(query_id, rank, neighbour_id,
    cosine_sim)``; without, ``(query_id, rank, neighbour_id, adc_dist)``.
    """
    spark = queries.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").head()
    # default the id column to the one the index was BUILT with (recorded
    # in meta) so a non-default build replays without re-stating it; an
    # explicit id_col= names both the query frame's id and, for rerank,
    # the corpus id — it always wins
    if id_col is None:
        id_col = str(meta["id_col"])
    if rerank_candidates == "auto":
        rerank_candidates = 20 * k if corpus is not None else None
    cent_rows = (
        spark.read.parquet(f"{index_path}/cells")
        .orderBy("cluster")
        .collect()
    )
    centroids = [[int(x) for x in r["centroid"]] for r in cent_rows]
    book_rows = (
        spark.read.parquet(f"{index_path}/codebooks")
        .orderBy("s", "c")
        .collect()
    )
    codebooks: list[list[list[int]]] = [[] for _ in range(int(meta["m"]))]
    for r in book_rows:
        codebooks[int(r["s"])].append([int(x) for x in r["vec"]])
    coded = spark.read.parquet(f"{index_path}/codes")
    return _ivfadc_search_core(
        coded,
        centroids,
        codebooks,
        queries,
        k=k,
        nprobe=nprobe,
        residual=bool(meta["residual"]),
        rerank_candidates=rerank_candidates,
        corpus=corpus,
        scale=int(meta["scale"]),
        id_col=id_col,
        embedding_col=embedding_col,
    )
