"""spark-submit entry point: full index build.

Usage (north_rule deployment shape):

    spark-submit --py-files engine.zip jobs/build_index_job.py \
        --input /data/pages_or_documents_parquet \
        --output /indexes/run1 \
        [--text-col html --from-html] [--path fast|term|resumable] \
        [--buckets 16] [--stem]

``engine.zip`` = ``python tools/make_pyfiles.py`` (zips the
eaststorm_searchengine_spark package).  On a real cluster the same
command runs unchanged at N and 4N executors; `scaling.py` is the
sandbox stand-in.
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--from-html", action="store_true")
    p.add_argument("--stem", action="store_true")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--path", choices=["fast", "term", "resumable"], default="fast")
    p.add_argument("--n-jobs", type=int, default=4, help="resumable path parts")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from eaststorm_searchengine_spark.operators import index_build as ib

    # under spark-submit the session/master comes from the submit conf
    spark = SparkSession.builder.appName("eaststorm-index-build").getOrCreate()
    docs = spark.read.parquet(args.input)
    kw = dict(
        id_col=args.id_col,
        text_col=args.text_col,
        n_buckets=args.buckets,
        from_html=args.from_html,
        stem=args.stem,
    )
    if args.path == "fast":
        stats = ib.build_index_fast(spark, docs, args.output, **kw)
    elif args.path == "term":
        stats = ib.build_index(spark, docs, args.output, **kw)
    else:
        stats = ib.build_index_resumable(spark, docs, args.output, n_jobs=args.n_jobs, **kw)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
