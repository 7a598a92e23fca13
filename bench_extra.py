#!/usr/bin/env python3
"""Extra measurement harness (guide §1.4 noop-sink isolation) — bench.py is
FROZEN for the driver; this file hosts the round's working measurements.

Usage: python3 bench_extra.py [query ...] [--reps N]
Defaults to bench.py's headline set, 4 reps per query, min + all samples
reported as one JSON line. Same env contract as bench.py
(SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS) and bench.py's own taskset pinning.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

from bench import BENCH_QUERIES, CPUS, SF_DIR, _pin_affinity  # noqa: E402


def main() -> None:
    _pin_affinity()
    args = sys.argv[1:]
    reps = 4
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    names = args or BENCH_QUERIES

    from pdfspark.pipeline import build_session
    from pdfspark.queries import QUERIES

    spark = build_session(cores=CPUS, shuffle_partitions=CPUS,
                          app="pdfspark-bench-extra")
    try:
        # same warmup as bench.py: codegen + full-size Python worker pool
        QUERIES["q1_pricing_summary"](spark, SF_DIR).collect()
        if "pdf_extract_roundtrip" in names or "html_extract_roundtrip" in names:
            QUERIES["pdf_extract_roundtrip"](spark, SF_DIR).write.format(
                "noop").mode("overwrite").save()
        out = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            samples = []
            for _ in range(reps):
                t0 = time.perf_counter()
                QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({"sf_dir": SF_DIR, "cores": CPUS, "queries": out}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
