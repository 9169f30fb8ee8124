#!/usr/bin/env python3
"""The linkage benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload dedupe_full --seed 1 --seconds 20 --trace 0

Run it from the repository root (the directory holding ``splink_spark/``).
Workloads: ``dedupe_full`` and ``fuzzy_predict`` (see ``workloads.py``).
``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones. Earlier stdout lines give every metric by
name and unit, the environment record and the workload's counts; the last
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

Everything the benchmark writes (fixtures, oracle results, Spark scratch
space) goes under ``.perfbench_cache/`` in the repository root; the fixture
and the DuckDB oracle are built once per (seed, size) outside any timed
region.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
DRIVER_MEMORY = "3g"


def start_session(cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(CACHE, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed-size young generation keeps the JVM's resident memory
        # from following G1's adaptive heap sizing run to run
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -Xmn512m")
        .config("spark.local.dir", os.path.join(CACHE, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit; after ``spark.stop()`` alone
    the JVM outlives this process. The Python workers end with the JVM."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def source_hash() -> str:
    """Content hash of the package under test, for the environment record
    (the benchmark may run outside a git checkout)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "splink_spark")
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".jar", ".java")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> "str | None":
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def prepare(workload: str, seed: int, sizes=None) -> None:
    """Build what the run reads and does not time, once per (seed, sizes):
    the fixture and, for ``fuzzy_predict``, the DuckDB oracle."""
    import fixture
    import workloads

    sizes = sizes or workloads.Sizes()
    path = fixture.fixture_path(CACHE, seed, sizes.fixture)
    if not os.path.exists(path):
        fixture.generate(seed, sizes.fixture, path)
    if workload == "fuzzy_predict":
        workloads.ensure_oracle(CACHE, seed, sizes, path, len(os.sched_getaffinity(0)))


def entity_lookup(path: str):
    """unique_id -> entity as a dense array (-1 where no record)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["unique_id", "entity"])
    uid = t.column("unique_id").to_numpy()
    out = np.full(int(uid.max()) + 1, -1, dtype=np.int64)
    out[uid] = t.column("entity").to_numpy()
    return out


def measure(spark, cores: int, session_s: float, workload: str, seed: int,
            seconds: float, trace: bool, sizes=None):
    """Run one workload in an open session, after ``prepare``; returns
    (Result, environment record)."""
    from splink_spark.internals.functions import _jvm_active

    import workloads
    from spans import Tracer

    import fixture

    sizes = sizes or workloads.Sizes()
    path = fixture.fixture_path(CACHE, seed, sizes.fixture)
    env = workloads.Env(
        spark=spark, cores=cores, seed=seed, seconds=seconds, fixture=path,
        cache_dir=CACHE, source_hash=source_hash(), entity_of=entity_lookup(path),
        sizes=sizes, tracer=Tracer(spark, cores) if trace else None,
    )
    result = getattr(workloads, workload)(env, session_s)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "cores": cores, "driver_memory": DRIVER_MEMORY,
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "commit": git_commit(), "source_sha1": env.source_hash,
        "similarity_path": "java" if _jvm_active() else "pandas",
        "sizes": vars(sizes), **result.info,
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dedupe_full", "fuzzy_predict"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "splink_spark")):
        print(f"perfbench: no splink_spark package in {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")

    from spans import PeakRss

    # in a child process, so neither DuckDB nor the generator leaves memory
    # or threads behind in the measured process
    child = subprocess.run(
        [sys.executable, "-c", f"import run; run.prepare({args.workload!r}, {args.seed})"],
        cwd=HERE, timeout=600)
    if child.returncode != 0:
        print(f"perfbench: preparing inputs failed ({child.returncode})", file=sys.stderr)
        return 1

    cores = len(os.sched_getaffinity(0))
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_session(cores)
        session_s = time.perf_counter() - t0
        try:
            result, record = measure(spark, cores, session_s, args.workload, args.seed,
                                     args.seconds, bool(args.trace))
        finally:
            stop_session(spark)
    if not args.trace:
        result.metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")

    print("perfbench env " + json.dumps(record, default=str))
    for name, (value, unit) in result.metrics.items():
        print(f"perfbench metric {name} {value} {unit}")
    print(f"perfbench failed_ratio {result.failed / max(result.attempted, 1)} "
          f"({result.failed}/{result.attempted})")
    print(json.dumps({
        "correct": result.failed == 0 and result.attempted > 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
