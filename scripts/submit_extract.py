#!/usr/bin/env python3
"""spark-submit job entry: the full checkpointed extraction pipeline.

Cluster deploy (north rule):
    python3 scripts/make_dist.py
    spark-submit --py-files dist/pdfspark.zip \\
        scripts/submit_extract.py --input <pages.parquet> --output <dir>

Local smoke (what CI drives):
    spark-submit --master 'local[8]' --py-files dist/pdfspark.zip \\
        scripts/submit_extract.py --input /tmp/pages --output /tmp/out

The job is resumable: rerunning with the same --output skips completed
partition keys via the manifest (pipeline.run_pipeline).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--npart", type=int, default=64)
    args = ap.parse_args()

    # under spark-submit the session already carries the cluster config;
    # getOrCreate attaches to it instead of building a local one
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("pdfspark-extract")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .getOrCreate()
    )
    from pdfspark.pipeline import read_pages, run_pipeline

    # the known pages schema: the read launches no schema-inference job
    pages = read_pages(spark, args.input)
    stats = run_pipeline(spark, pages, args.output, npart=args.npart)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
