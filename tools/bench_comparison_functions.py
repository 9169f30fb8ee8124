#!/usr/bin/env python
"""Comparison-function microbenchmark (BASELINE.md row 5 protocol): median
seconds per 10,000,000 evaluations of each similarity / distance function,
reported as a multiple of exact-match cost — mirroring the reference's
published methodology (docs/topic_guides/performance/
performance_of_comparison_functions.nb.py: 10M comparisons per function,
multiples of exact match, per backend).

Usage: python tools/bench_comparison_functions.py [n_evals] [out.json]

Pairs are real customer names from the testdata parquet, tiled to the
target count; evaluation is forced through an aggregate so Catalyst cannot
prune the function call. Each function is timed best-of-3 (noisy host).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    n_target = int(float(sys.argv[1])) if len(sys.argv) > 1 else 10_000_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_MICRO.json"

    import os

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench_comparison_functions")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "32g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from splink_spark.internals.functions import register_udfs

    register_udfs(spark)

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_name").alias("name"), F.col("c_custkey").alias("k")
    )
    n_names = cust.count()
    # deterministic pseudo-random pairs: offset join on shuffled key, tiled
    # until n_target pairs exist; persist so every timing reads the same
    # materialised input and the pair-building cost is excluded
    import math

    copies = max(1, math.ceil(n_target / n_names))
    base = (
        cust.crossJoin(spark.range(copies).select(F.col("id").alias("rep")))
        .limit(n_target)
        .select(
            F.col("name").alias("s_l"),
            # second string: another customer's name chosen by hash offset
            F.concat(
                F.lit("Customer#"),
                F.lpad(
                    (
                        F.pmod(F.xxhash64("k", "rep"), F.lit(n_names)) + 1
                    ).cast("string"),
                    9,
                    "0",
                ),
            ).alias("s_r"),
            (F.pmod(F.xxhash64("k"), F.lit(1000)) / 10.0).alias("x_l"),
            (F.pmod(F.xxhash64("k", "rep"), F.lit(1000)) / 10.0).alias("x_r"),
        )
        .withColumn(
            "arr_l",
            F.array(*[F.pmod(F.xxhash64("s_l", F.lit(i)), F.lit(97)).cast("double") for i in range(10)]),
        )
        .withColumn(
            "arr_r",
            F.array(*[F.pmod(F.xxhash64("s_r", F.lit(i + 1)), F.lit(97)).cast("double") for i in range(10)]),
        )
        .repartition(int(cpus))  # limit() collapses to one partition
        .persist()
    )
    n_actual = base.count()

    from splink_spark.internals.functions import cosine_similarity

    exprs = {
        "Exact Match": (F.col("s_l") == F.col("s_r")).cast("int"),
        "Levenshtein": F.levenshtein("s_l", "s_r"),
        "Damerau-Levenshtein": F.expr("damerau_levenshtein(s_l, s_r)"),
        "Jaro": F.expr("jaro_sim(s_l, s_r)"),
        "Jaro-Winkler": F.expr("jaro_winkler(s_l, s_r)"),
        "Jaccard": F.expr("jaccard(s_l, s_r)"),
        "Jaccard (non-ASCII)": F.expr("jaccard(concat(s_l, 'é'), s_r)"),
        "Absolute Difference": F.abs(F.col("x_l") - F.col("x_r")),
        "Cosine Similarity Level": F.expr(cosine_similarity("arr_l", "arr_r")),
    }

    # warm-up: one untimed pass per function so whole-stage codegen / JIT
    # compilation doesn't land in the first timed run (exact match is timed
    # first and would otherwise absorb all of it)
    for expr in exprs.values():
        base.agg(F.sum(expr.cast("double"))).collect()

    results = {}
    for name, expr in exprs.items():
        runs = []
        for _ in range(3):
            t0 = time.time()
            # sum() forces every row's evaluation; cast to double first so
            # boolean/int/double all aggregate the same way
            base.agg(F.sum(expr.cast("double"))).collect()
            runs.append(round(time.time() - t0, 3))
        results[name] = {"median_sec": sorted(runs)[1], "runs": runs}
        print(f"# {name}: {results[name]}", file=sys.stderr)

    exact = results["Exact Match"]["median_sec"]
    for name, rec in results.items():
        rec["multiple_of_exact_match"] = (
            round(rec["median_sec"] / exact, 2) if exact > 0 else None
        )

    out = {
        "protocol": (
            "BASELINE.md row 5 method (10M evaluations there) / reference performance_"
            "of_comparison_functions.nb.py: median seconds per n_evals evaluations, as "
            "multiples of exact-match cost; best-of-3 on a noisy host; "
            "JVM-compiled similarity UDFs (Similarity.java), native "
            "levenshtein, HOF cosine"
        ),
        "n_evals": n_actual,
        "backend": f"splink_spark local[{cpus}]",
        "functions": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({k: v["multiple_of_exact_match"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
