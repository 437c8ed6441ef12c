"""Cluster entry point for the KG pipeline (north-rule requirement:
"runs via spark-submit --py-files on multi-executor clusters").

Usage on a cluster:

    zip -r meresco_rdf_spark.zip meresco_rdf_spark
    spark-submit \
        --py-files meresco_rdf_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        tools/submit_pipeline.py \
        --input  <transcripts parquet/Iceberg path> \
        --output <out dir> \
        --buckets 256 --table-buckets 256

No master/memory settings here — they come from spark-submit, as they
should on a cluster.  ``--synthesize N`` generates the deterministic
transcript table instead of reading one (for smoke runs).  The run is
resumable: re-submitting with the same --output skips completed
conversation buckets via the checkpoint manifest (kg/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs launch this from the repo; on a cluster --py-files provides
# the package and this insert is a harmless no-op path entry
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts table path (parquet)")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="synthesize N conversations instead of reading --input")
    ap.add_argument("--turns-per-conv", type=int, default=10)
    ap.add_argument("--buckets", type=int, default=64,
                    help="checkpoint/resume conversation buckets")
    ap.add_argument("--table-buckets", type=int, default=64,
                    help="subject buckets of the output triple/adjacency tables")
    ap.add_argument("--jaccard-threshold", type=float, default=0.5)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from meresco_rdf_spark.kg.pipeline import run_checkpointed
    from meresco_rdf_spark.session import ENGINE_CONFS

    builder = SparkSession.builder.appName("kg-construct")
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()

    if args.synthesize:
        from meresco_rdf_spark.sources.transcripts import synthesize_transcripts

        transcripts = synthesize_transcripts(
            spark, args.synthesize, args.turns_per_conv)
    else:
        if not args.input:
            raise SystemExit("--input or --synthesize required")
        transcripts = spark.read.parquet(args.input)

    # pipeline_wall_s excludes JVM boot / module import / session setup:
    # those fixed costs are identical at every parallelism level, so a
    # scaling-efficiency probe that divides TOTAL process walls at two
    # levels is additively compressed toward 1/levels at small inputs —
    # the in-job wall is what tools/bench_scaling.py times, keeping
    # submit-based and in-process measurements comparable.  Warm the
    # codegen/python-worker paths first for the same reason.
    import shutil
    import time as _time

    from meresco_rdf_spark._scratch import scratch_dir

    warm = scratch_dir("submit_warm")
    run_checkpointed(spark, transcripts.limit(2000), warm, n_buckets=1,
                     table_buckets=args.table_buckets,
                     jaccard_threshold=args.jaccard_threshold)
    shutil.rmtree(warm, ignore_errors=True)
    t0 = _time.monotonic()
    summary = run_checkpointed(
        spark, transcripts, args.output,
        n_buckets=args.buckets, table_buckets=args.table_buckets,
        jaccard_threshold=args.jaccard_threshold)
    summary["pipeline_wall_s"] = round(_time.monotonic() - t0, 2)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
