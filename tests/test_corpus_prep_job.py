"""End-to-end corpus-prep job (jobs/corpus_prep_job.py): the composed
extract → curate → scrub → split → pack pipeline, run in-process.

Pins: output schema/partitioning, packing-stream contiguity per
(split, bucket), splits never share a packing stream, bit-level
determinism across reruns (the job's documented overwrite contract
rests on it), one kernel pass per input turn, null-text turns never
reaching the kernel or the output, and no persisted frame outliving
the job.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from html_parser_spark.sources.transcripts import transcripts_from_documents
from jobs.corpus_prep_job import parse_args, run


@pytest.fixture(scope="module")
def prep(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("prep")
    t = transcripts_from_documents(spark, sf_dir, n_convs=40).drop(
        "doc_id", "expected_main_text")
    t.write.mode("overwrite").parquet(str(base / "input"))
    args = parse_args([
        "--input", str(base / "input"), "--output", str(base / "out"),
        "--quality", "0.0", "--min-tokens", "1", "--langs", "en,und",
        "--budget", "64", "--pack-buckets", "4",
    ])
    summary = run(spark, args)
    return base, args, summary


def test_summary_and_output_schema(spark, prep):
    base, _, summary = prep
    assert summary["rows_kept"] > 0
    assert summary["rows_kept"] <= summary["rows_in"]
    docs = spark.read.parquet(str(base / "out" / "docs"))
    assert docs.count() == summary["rows_kept"]
    cols = set(docs.columns)
    assert {"doc_id", "text", "quality", "lang_used", "n_pii", "split",
            "bucket", "n_tokens", "start_offset", "seq_id",
            "crosses_cut"} <= cols
    assert set(summary["splits"]) <= {"train", "val", "test"}
    # curation accounting exists (kept row at minimum)
    stats = spark.read.parquet(str(base / "out" / "stats"))
    assert stats.count() >= 1


def test_packing_streams_contiguous_and_split_isolated(spark, prep):
    base, _, _ = prep
    docs = spark.read.parquet(str(base / "out" / "docs"))
    # per (split, bucket) stream: offsets start at 0 and tile the
    # stream exactly (no gaps, no overlap) -> max(end) == sum(tokens)
    agg = (docs.groupBy("split", "bucket")
           .agg(F.min("start_offset").alias("lo"),
                F.max(F.col("start_offset") + F.col("n_tokens")).alias("hi"),
                F.sum("n_tokens").alias("tot")).collect())
    assert agg
    for r in agg:
        assert r["lo"] == 0 and r["hi"] == r["tot"], r
    # each doc packed exactly once (streams never mix splits: the
    # per-split plans are disjoint by doc_id construction)
    assert docs.select("doc_id").distinct().count() == docs.count()


def test_rerun_is_bit_deterministic(spark, prep):
    base, args, summary = prep
    before = sorted(map(tuple, spark.read.parquet(
        str(base / "out" / "docs")).collect()))
    summary2 = run(spark, args)
    assert summary2 == summary
    after = sorted(map(tuple, spark.read.parquet(
        str(base / "out" / "docs")).collect()))
    assert after == before


@pytest.fixture(scope="module")
def null_run(spark, prep):
    """The prep input plus null-text turns, run with the kernel output
    passed through a pandas UDF that counts the rows it sees."""
    base, args, _ = prep
    t = spark.read.parquet(str(base / "input"))
    nulls = (t.limit(3)
             .withColumn("conv_id", F.concat(F.lit("null-"), "conv_id"))
             .withColumn("text", F.lit(None).cast("string")))
    t.unionByName(nulls).write.mode("overwrite").parquet(
        str(base / "input_nulls"))

    import html_parser_spark.plans.pipeline as pipeline

    seen = spark.sparkContext.accumulator(0)
    real = pipeline.extract_turns

    @F.pandas_udf("string")
    def count_rows(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return s

    def counted(df, cfg=pipeline.PipelineConfig()):
        return real(df, cfg).withColumn("main_text", count_rows("main_text"))

    # a frame cached by another module must not mask a leak from run()
    spark.catalog.clearCache()
    out_args = parse_args([
        "--input", str(base / "input_nulls"),
        "--output", str(base / "out_nulls"),
        "--quality", "0.0", "--min-tokens", "1", "--langs", "en,und",
        "--budget", "64", "--pack-buckets", "4",
    ])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "extract_turns", counted)
        summary = run(spark, out_args)
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    n_text = t.where(F.col("text").isNotNull()).count()
    return base, summary, seen.value, n_text, cache_empty


def test_one_kernel_pass_per_turn(null_run):
    _, _, passes, n_text, _ = null_run
    # null-text turns are filtered before the kernel, and the lineage
    # branches (stats, PII, per-split packing, counts) reuse one pass
    assert passes == n_text


def test_null_text_turns_and_cache_hygiene(spark, prep, null_run):
    base, summary, _, n_text, cache_empty = null_run
    _, _, plain = prep
    assert summary["rows_in"] == n_text
    stats = spark.read.parquet(str(base / "out_nulls" / "stats"))
    assert stats.agg(F.sum("n_docs")).first()[0] == n_text
    docs = spark.read.parquet(str(base / "out_nulls" / "docs"))
    assert docs.where(F.col("conv_id").startswith("null-")).count() == 0
    # null-text turns count nowhere: same summary and rows as without them
    assert summary == plain
    assert (sorted(map(tuple, docs.collect()))
            == sorted(map(tuple, spark.read.parquet(
                str(base / "out" / "docs")).collect())))
    # the persisted lineage does not outlive the job
    assert cache_empty
