#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny fixture size (a few minutes).

    python3 perfbench/selftest.py

Runs every workload untraced and traced in one Spark session and checks
that every metric ``BENCHMARK.json`` names is reported with its unit, that
the correctness checks ran and passed, that they fail on a corrupted
expected answer, and that a traced run reports every per-layer metric.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

import numpy as np

import run
import workloads
from spans import PeakRss

TINY = workloads.Sizes(dedupe=300, fuzzy=300)
SEED = 7


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def check_metrics(got: dict, wanted: list, where: str) -> None:
    for m in wanted:
        check(m["name"] in got, f"{where}: reports {m['name']}")
        value, unit = got[m["name"]]
        check(unit == m["unit"] and isinstance(value, (int, float)) and math.isfinite(value),
              f"{where}: {m['name']} = {value} {unit}")


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, run.ROOT)
    os.makedirs(os.path.join(run.CACHE, "tmp"), exist_ok=True)
    names = [w["name"] for w in bench["workloads"]]
    for name in names:
        run.prepare(name, SEED, TINY)
    cores = len(os.sched_getaffinity(0))
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = run.start_session(cores)
        session_s = time.perf_counter() - t0
        try:
            for name in names:
                res, record = run.measure(spark, cores, session_s, name, SEED, 0, False, TINY)
                res.metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
                check_metrics(res.metrics, bench["end_to_end"], name)
                check(res.attempted > 0 and res.failed == 0,
                      f"{name}: {res.attempted} operations checked, none failed")
                check(record["similarity_path"] in ("java", "pandas"),
                      f"{name}: environment record ({record['similarity_path']} similarity)")

                res, _ = run.measure(spark, cores, session_s, name, SEED, 0, True, TINY)
                check_metrics(res.metrics, bench["per_layer"], f"{name} traced")
                check(res.failed == 0, f"{name} traced: answers still correct")
                if name == "fuzzy_predict":
                    check(res.metrics["train.tasks"][0] == 0 and res.metrics["cluster.tasks"][0] == 0,
                          "fuzzy_predict traced: train and cluster do no work")
                if name == "dedupe_full":
                    check(res.metrics["cluster.clusters"][0] > 0, "dedupe_full traced: clusters")
                    check(res.metrics["realtime.jobs_per_request"][0] > 0,
                          "dedupe_full traced: realtime lookups served")

            # the checks must catch a wrong answer
            oracle = workloads.oracle_path(run.CACHE, SEED, TINY)
            shutil.copy(oracle, oracle + ".bak")
            try:
                np.save(oracle, np.load(oracle)[1:])
                res, _ = run.measure(spark, cores, session_s, "fuzzy_predict", SEED, 0, False, TINY)
            finally:
                os.replace(oracle + ".bak", oracle)
            check(res.failed == res.attempted, "fuzzy_predict: a missing oracle pair fails every run")
        finally:
            run.stop_session(spark)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
