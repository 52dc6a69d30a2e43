"""spark-submit entry point for the extraction pipeline.

Deployment shape required by the north rule::

    python tools/make_pyfiles.py                      # build dist/html_parser_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/html_parser_spark.zip \
        jobs/extract_job.py \
        --input  <transcripts parquet/iceberg path> \
        --output <extracted table dir> \
        --control <control table dir> \
        --run-id  <stable id for resume> \
        [--buckets 4096] [--no-resume] [--no-ordering-check]

The job is idempotent per (run-id, bucket): re-submitting after a
partial failure skips completed buckets (anti-join against the control
table) and overwrites only the buckets it recomputes.  Metrics for
each completed bucket (rows, conversations, output bytes, wall) are
appended to the control table — the distributed analog of the
reference's instrumentation hooks (src/debug/instrumentation.zig).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    ap = argparse.ArgumentParser(description="main-content extraction over transcripts")
    ap.add_argument("--input", required=True, help="transcripts table path (parquet dir)")
    ap.add_argument("--output", required=True, help="extracted output table dir")
    ap.add_argument("--control", required=True, help="control/lineage table dir")
    ap.add_argument("--run-id", required=True, help="stable run id for resume")
    ap.add_argument("--buckets", type=int, default=256,
                    help="stable conv_id hash buckets (output partitions)")
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess all buckets even if control rows exist")
    ap.add_argument("--no-ordering-check", action="store_true")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from html_parser_spark.plans.pipeline import run_extraction
    from html_parser_spark.sources.catalog import read_transcripts

    spark = SparkSession.builder.appName(f"extract-{args.run_id}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # schema-enforced read; resolves Iceberg table identifiers too,
    # matching the --input help text and the pipeline's output handling
    transcripts = read_transcripts(spark, args.input)
    metrics = run_extraction(
        spark,
        transcripts,
        out_dir=args.output,
        control_dir=args.control,
        run_id=args.run_id,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        check_ordering=not args.no_ordering_check,
    )
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
