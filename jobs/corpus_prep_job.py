"""spark-submit entry point for end-to-end training-corpus prep.

Composes the operator families this repo adds on top of extraction
(the reference engine stops at per-document extraction; everything
downstream here is the distributed corpus work)::

    spark-submit --master <cluster> \
        --py-files dist/html_parser_spark.zip \
        jobs/corpus_prep_job.py \
        --input  <transcripts parquet path> \
        --output <prepped corpus dir> \
        [--quality 0.6] [--langs en] [--min-tokens 20] \
        [--budget 2048] [--pack-buckets 64] \
        [--train 0.9 --val 0.05 --test 0.05]

Stages (all deterministic — two runs over the same input byte-match):

1. extract  — map-only kernel pass over turns (plans/pipeline.py's
   extract_turns; zero pre-kernel shuffle).  Null input text is
   filtered before the kernel, at the scan;
2. curate   — exact-dup / too-short / low-quality / wrong-lang with
   ordered drop reasons (operators/curate.py ``DROP_REASONS``);
3. split    — deterministic hash holdout of ``doc_id`` alone
   (operators/corpusprep.py).  Dropped rows stay in the lineage with
   their text nulled, so they cost no scrub or tokens downstream;
4. scrub    — PII redaction + per-doc ``n_pii`` (operators/pii.py; one
   projection, map-only);
5. pack     — concatenate-and-chop token packing plan, ONE window over
   (split, bucket), so a training sequence never mixes splits; a
   NULL text adds no tokens to its stream.

Two Spark actions and nothing persisted or collected: the docs write,
which observes each drop reason's count and the kept rows per split
(a ``DataFrame.observe`` above the packing shuffle, in the write's
result stage, so a retried task or a resubmitted map stage cannot count
twice) and keeps the rows with no drop reason; then the stats write,
from the observed counts, as a one-task local relation.  ``rows_in``
is the counts' sum and ``splits`` the kept rows; a reason or split
with no row is left out of both.  The kernel runs once per turn;
nothing is re-read.

Output: ``<output>/docs`` parquet partitioned by ``split``, with the
schema ``DOCS_DDL``, and ``<output>/stats`` ``(reason, n_docs)`` with
the per-reason curation accounting the mixture designer reads.  A run
that keeps no document leaves no parquet file under ``docs``, so a
reader passes the schema: ``spark.read.schema(DOCS_DDL).parquet(...)``.
The job is a pure function of its input: re-running OVERWRITES both
tables (use extract_job.py's control-table pattern when incremental
resume matters — this job's value is the composition, and every stage
is deterministic, so a rerun is always safe).

A JSON line with headline counts is printed on success (the same
contract bench.py uses).
"""

from __future__ import annotations

import argparse
import json
import sys

# The docs table's schema as a reader sees it (``split``, the partition
# column, comes last); readers pass it (see the module docstring).
DOCS_DDL = ("doc_id STRING, conv_id STRING, turn_idx INT, role STRING, text STRING, "
            "quality DOUBLE, lang_used STRING, n_pii INT, bucket BIGINT, n_tokens BIGINT, "
            "start_offset BIGINT, seq_id BIGINT, crosses_cut INT, split STRING")
DOCS_COLUMNS = tuple(c.split(" ")[0] for c in DOCS_DDL.split(", "))


def parse_args(argv):
    ap = argparse.ArgumentParser(description="training-corpus prep over transcripts")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--quality", type=float, default=0.6)
    ap.add_argument("--langs", default="en",
                    help="comma-separated allow-list for lang-id")
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--budget", type=int, default=2048,
                    help="tokens per packed training sequence")
    ap.add_argument("--pack-buckets", type=int, default=64,
                    help="independent packing streams per split")
    ap.add_argument("--train", type=float, default=0.90)
    ap.add_argument("--val", type=float, default=0.05)
    ap.add_argument("--test", type=float, default=0.05)
    return ap.parse_args(argv)


def run(spark, args) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from html_parser_spark.operators.corpusprep import split_assign, with_packing
    from html_parser_spark.operators.curate import DROP_REASONS, curate_corpus
    from html_parser_spark.operators.pii import pii_total, redact_pii
    from html_parser_spark.plans.pipeline import extract_turns
    from html_parser_spark.sources.catalog import read_transcripts

    t = read_transcripts(spark, args.input)

    # 1. extract (map-only; doc identity = conv:turn).  main_text is
    # null exactly when the input text is, so the null filter goes on
    # the input (down to the scan): a filter on the UDF output would be
    # pushed under the projection and evaluate the kernel twice.
    ex = extract_turns(t.where("text IS NOT NULL"))
    docs = ex.selectExpr(
        "concat_ws(':', conv_id, CAST(turn_idx AS STRING)) AS doc_id",
        "conv_id", "turn_idx", "role", "main_text AS text")

    # 2. curate (quality/lang/dup/short with ordered reasons) + 3. split.
    # Dropped rows stay in the lineage for the counts below, with their
    # text nulled: they are neither scrubbed nor packed (a NULL text
    # adds no tokens) and ride the packing shuffle with little payload.
    holdout = (("train", args.train), ("val", args.val), ("test", args.test))
    curated = split_assign(curate_corpus(
        docs, quality_threshold=args.quality,
        langs=tuple(s for s in args.langs.split(",") if s),
        min_tokens=args.min_tokens), splits=holdout).withColumn(
        "text", F.expr("CASE WHEN drop_reason IS NULL THEN text END"))

    # 4. PII scrub — redacted text replaces the raw extraction
    scrubbed = curated.withColumns({"n_pii": pii_total("text"), "text": redact_pii("text")})

    # 5. packing plan, one stream per (split, bucket); the counts are
    # observed above its shuffle, in the write's result stage, where a
    # retried or resubmitted task's updates are applied once
    counts = Observation("corpus_prep")
    kept_split = F.expr("CASE WHEN drop_reason IS NULL THEN split END")
    (with_packing(scrubbed, ("split",), budget=args.budget, n_buckets=args.pack_buckets)
     .observe(counts, *[F.expr(f"count_if(drop_reason = '{r}') AS {r}") for r in DROP_REASONS],
              # caller-supplied split names go in as literals, never as SQL text
              F.array(*[F.count_if(F.equal_null(kept_split, F.lit(name)))
                        for name, _ in holdout]).alias("kept"))
     .where("drop_reason IS NULL")
     .selectExpr(*DOCS_COLUMNS)
     .write.mode("overwrite").partitionBy("split")
     .parquet(args.output + "/docs"))

    observed = counts.get
    splits = {name: k for (name, _), k in zip(holdout, observed["kept"]) if k}
    by_reason = {r: observed[r] for r in DROP_REASONS if observed[r]}
    if splits:
        by_reason["kept"] = sum(splits.values())
    # JVM-side rows, no Python RDD; the cast also types an empty array.
    # The reasons are curate_corpus's constants, so they go in as text.
    rows = ", ".join(f"struct('{k}', {n})" for k, n in sorted(by_reason.items()))
    (spark.range(1, numPartitions=1)
     .selectExpr(f"inline(CAST(array({rows}) AS array<struct<reason:string,n_docs:bigint>>))")
     .write.mode("overwrite").parquet(args.output + "/stats"))
    return {
        "metric": "corpus_prep",
        "rows_in": sum(by_reason.values()),
        "rows_kept": sum(splits.values()),
        "splits": splits,
    }


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("corpus-prep").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions",
                   spark.sparkContext.defaultParallelism)
    print(json.dumps(run(spark, args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
