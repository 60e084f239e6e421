"""spark-submit entrypoint for the index build.

Cluster usage (north_rule launch mode):

    spark-submit --py-files se_spark.zip jobs/build_index_job.py \
        --input  <pages parquet/iceberg path> \
        --output <index warehouse dir> \
        [--lang en] [--no-stem] [--cap 1500] [--chunks 0] \
        [--partitions N]

    # package the library for --py-files:
    #   cd /root/repo && zip -r se_spark.zip search_engine_spark

With --chunks > 0 the build runs through the resumable checkpoint path
(plans/checkpoint.py): per-chunk lineage + metrics, safe to re-submit after
a failure. Local smoke run:

    python jobs/build_index_job.py --input /tmp/pages --output /tmp/idx
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--cap", type=int, default=None)
    ap.add_argument("--chunks", type=int, default=0,
                    help=">0: resumable chunked build with lineage")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode only; under spark-submit leave unset")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cores:
        from search_engine_spark.session import get_spark

        spark = get_spark(app_name="build_index", cores=args.cores,
                          shuffle_partitions=args.cores * 2)
    else:
        spark = SparkSession.builder.appName("build_index").getOrCreate()

    pages = spark.read.parquet(args.input)
    t0 = time.perf_counter()
    if args.chunks > 0:
        from search_engine_spark.plans.checkpoint import resumable_build

        stats = resumable_build(
            pages, args.output, n_chunks=args.chunks, lang=args.lang,
            stem=not args.no_stem, cap=args.cap,
        )
    else:
        from search_engine_spark.operators.indexer import build_index

        stats = build_index(
            pages, args.output, lang=args.lang, stem=not args.no_stem,
            cap=args.cap, partitions=args.partitions,
        )
    dt = time.perf_counter() - t0
    print(json.dumps({**stats, "wall_s": round(dt, 2),
                      "docs_per_sec": round(stats["n_docs"] / dt, 1)}))


if __name__ == "__main__":
    main()
