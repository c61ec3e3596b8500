"""spark-submit entry point for the translate-enrich-route pipeline.

Usage (multi-executor cluster):
  spark-submit --py-files lfts.zip scripts/run_pipeline.py \
      --input /data/pages --output /data/routed \
      --status-dict /dicts/status.csv --checkpoint

  (build lfts.zip with: cd repo && zip -r lfts.zip logstash_filter_translate_spark)

Local smoke:
  python scripts/run_pipeline.py --generate 100000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet/Iceberg path")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic pages instead of reading input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--status-dict", help="CSV/JSON/YAML dictionary path for the "
                                          "status translate (default: built-in)")
    ap.add_argument("--checkpoint", action="store_true",
                    help="stage the enriched frame before the sinks "
                         "(rewritten on every run)")
    ap.add_argument("--table-format", default="parquet",
                    choices=["parquet", "iceberg"],
                    help="sink/stage table format (iceberg needs the "
                         "runtime jars + a configured catalog; --input and "
                         "--output are then table identifiers)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from logstash_filter_translate_spark.plans import pipeline as P
    from logstash_filter_translate_spark.plans.pages import generate_pages
    from logstash_filter_translate_spark.session import build_session
    from logstash_filter_translate_spark.sources.dictionary import (
        load_dictionary_file,
    )

    from logstash_filter_translate_spark.plans.io import TableIO

    spark = build_session(app_name="translate-enrich-route", master=args.master)
    try:
        if args.generate:
            pages = generate_pages(spark, args.generate)
        elif args.input:
            pages = TableIO(spark, args.table_format).read(args.input)
        else:
            ap.error("one of --input / --generate is required")

        cfg = P.PipelineConfig()
        if args.status_dict:
            cfg.status_dict = load_dictionary_file(args.status_dict)

        metrics = P.run_pipeline(
            spark, pages, args.output, cfg=cfg, checkpoint=args.checkpoint,
            table_format=args.table_format,
        )
        print(json.dumps({"metrics": metrics, "output": args.output}))
        if metrics.get("extract_mismatches", 0):
            sys.exit(2)  # byte-identity invariant violated
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
