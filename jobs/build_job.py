#!/usr/bin/env python
"""spark-submit entry point: full index build over a corpus parquet.

Usage (the production shape of the north rule)::

    spark-submit --master local[8] \
        --py-files stractt_spark.zip \
        jobs/build_job.py --input /path/corpus.parquet --out /path/index \
        --text-col content --id-col doc_id --analyzer code --dps 4096

Emits one JSON line: docs, seconds, docs/sec (used by scale_bench.py to
compute N→4N scaling efficiency).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--analyzer", default="code")
    ap.add_argument("--dps", type=int, default=4096)
    ap.add_argument("--assign-id", action="store_true",
                    help="assign dense doc_id = rank over (repo,path,commit)")
    ap.add_argument("--aligned", action="store_true",
                    help="input is range-partitioned by id with segment-"
                         "aligned boundaries → ZERO-shuffle build "
                         "(no repartition; layout verified post-write)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # master/conf come from spark-submit
    spark = SparkSession.builder.appName("stractt-build").getOrCreate()
    from stractt_spark.operators.postings import assign_doc_ids
    from stractt_spark.plans.build import build_index_fused

    docs = spark.read.parquet(args.input)
    cores = spark.sparkContext.defaultParallelism
    if not args.aligned and docs.rdd.getNumPartitions() < cores:
        docs = docs.repartition(cores * 2)
    if args.assign_id:
        # persist: the assignment shuffle must not re-run per downstream stage
        docs = assign_doc_ids(docs, ["repo", "path", "commit"]).persist()

    # Prewarm the Python worker pool (one worker per core spawns lazily and
    # costs ~0.5-1s each, serialized).  On a long-lived cluster this is a
    # per-executor constant amortized over hours; excluding it measures
    # steady-state pipeline throughput, which is what the N-vs-4N scaling
    # comparison is about.
    spark.range(0, cores * 4, 1, cores * 2).mapInPandas(
        lambda it: it, "id long"
    ).count()

    t0 = time.time()
    build_index_fused(
        spark, docs, args.out,
        text_col=args.text_col, id_col=args.id_col,
        analyzer=args.analyzer, docs_per_segment=args.dps,
        aligned_input=args.aligned,
    )
    dt = time.time() - t0
    n = docs.count()
    print(json.dumps({
        "job": "build_index", "docs": n, "seconds": round(dt, 3),
        "docs_per_sec": round(n / dt, 2), "parallelism": cores,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
