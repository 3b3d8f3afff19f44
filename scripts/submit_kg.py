#!/usr/bin/env python
"""spark-submit job script for the KG pipeline.

Usage (cluster):
  zip -r rossete_rdf_spark.zip rossete_rdf_spark
  spark-submit --py-files rossete_rdf_spark.zip scripts/submit_kg.py \
      --pages-parquet s3://bucket/pages/ --workdir s3://bucket/kgrun1 \
      [--n-synth 1000000]

Local:
  spark-submit --master local[8] --py-files rossete_rdf_spark.zip \
      scripts/submit_kg.py --n-synth 100000 --workdir /tmp/kgrun

The session comes from session.get_spark, so the launcher's master and
--conf settings win over the library defaults. The job resumes from
`workdir`'s manifest if a previous run was killed."""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-parquet", help="existing page table (url, warc_ts, html, text, lang)")
    ap.add_argument("--n-synth", type=int, default=0, help="generate N synthetic pages instead")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    from rossete_rdf_spark.pipeline import run_kg_pipeline, synth_pages
    from rossete_rdf_spark.session import get_spark

    spark = get_spark("rossete-kg-pipeline")
    if args.n_synth:
        pages = synth_pages(spark, args.n_synth, partitions=args.partitions)
    elif args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    else:
        print("need --pages-parquet or --n-synth", file=sys.stderr)
        sys.exit(2)

    metrics = run_kg_pipeline(spark, pages, args.workdir)
    print(json.dumps({k: {kk: vv for kk, vv in v.items() if kk != "partition_rows"}
                      for k, v in metrics.items()}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
