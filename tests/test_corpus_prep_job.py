"""End-to-end corpus-prep job (jobs/corpus_prep_job.py): the composed
extract → curate → split → scrub → pack pipeline, run in-process.

Pins: output schema/partitioning, packing-stream contiguity per
(split, bucket), splits never share a packing stream, bit-level
determinism across reruns (the job's documented overwrite contract
rests on it), one kernel pass per input turn, at most three Spark
actions per run, a summary that agrees with the written tables,
null-text turns never reaching the kernel or the output, runs that
keep no document, no persisted frame outliving the job, and a cap on
the driver's py4j round trips per run.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from html_parser_spark.sources.transcripts import transcripts_from_documents
from jobs.corpus_prep_job import parse_args, run
from support import jvm_round_trips


def _last_execution_id(spark):
    """Id of the newest SQL execution the status store has seen.  Ids
    are sequential, so the difference across a call is the number of
    executions it started; the store's ``executionsCount()`` stops
    growing once it holds ``spark.sql.ui.retainedExecutions`` entries,
    which a long test session reaches."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _args(base, inp, out, *extra):
    return parse_args([
        "--input", str(base / inp), "--output", str(base / out),
        "--quality", "0.0", "--min-tokens", "1", "--langs", "en,und",
        "--budget", "64", "--pack-buckets", "4", *extra,
    ])


@pytest.fixture(scope="module")
def prep(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("prep")
    t = transcripts_from_documents(spark, sf_dir, n_convs=40).drop(
        "doc_id", "expected_main_text")
    t.write.mode("overwrite").parquet(str(base / "input"))
    args = _args(base, "input", "out")
    before = _last_execution_id(spark)
    summary = run(spark, args)
    n_exec = _last_execution_id(spark) - before
    return base, args, summary, n_exec


def test_summary_and_output_schema(spark, prep):
    base, _, summary, _ = prep
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


def test_three_actions_and_summary_matches_tables(spark, prep):
    base, _, summary, n_exec = prep
    # one collect of the (reason, split) counts, the docs write and the
    # stats write; nothing is counted or re-read afterwards
    assert 1 <= n_exec <= 3
    stats = spark.read.parquet(str(base / "out" / "stats"))
    assert summary["rows_in"] == stats.agg(F.sum("n_docs")).first()[0]
    docs = spark.read.parquet(str(base / "out" / "docs"))
    assert summary["splits"] == {
        r["split"]: r["n"]
        for r in docs.groupBy("split").agg(F.count("*").alias("n")).collect()}


def test_packing_streams_contiguous_and_split_isolated(spark, prep):
    base, _, _, _ = prep
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
    # each doc packed exactly once (streams never mix splits: split is
    # part of the packing window's partition)
    assert docs.select("doc_id").distinct().count() == docs.count()


def test_rerun_is_bit_deterministic(spark, prep):
    base, args, summary, _ = prep
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
    base, _, _, _ = prep
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
    out_args = _args(base, "input_nulls", "out_nulls")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "extract_turns", counted)
        summary = run(spark, out_args)
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    n_text = t.where(F.col("text").isNotNull()).count()
    return base, summary, seen.value, n_text, cache_empty


def test_one_kernel_pass_per_turn(null_run):
    _, _, passes, n_text, _ = null_run
    # null-text turns are filtered before the kernel, and the lineage
    # branches (counts, PII, packing) reuse one pass
    assert passes == n_text


def test_null_text_turns_and_cache_hygiene(spark, prep, null_run):
    base, summary, _, n_text, cache_empty = null_run
    _, _, plain, _ = prep
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


def _no_docs_kept(spark, base, out, summary, rows_in):
    assert summary == {"metric": "corpus_prep", "rows_in": rows_in,
                       "rows_kept": 0, "splits": {}}
    stats = spark.read.parquet(str(base / out / "stats"))
    assert stats.schema.simpleString() == "struct<reason:string,n_docs:bigint>"
    assert stats.where(F.col("reason") == "kept").count() == 0
    return {r["reason"]: r["n_docs"] for r in stats.collect()}


def test_no_document_kept(spark, prep):
    """A quality floor no document reaches: every turn is accounted for
    under a drop reason and the job still returns."""
    base, _, plain, _ = prep
    summary = run(spark, _args(base, "input", "out_none", "--quality", "1.1"))
    stats = _no_docs_kept(spark, base, "out_none", summary, plain["rows_in"])
    assert stats and sum(stats.values()) == plain["rows_in"]


def test_all_text_null(spark, prep):
    """No turn reaches curation: the stats table is written empty, with
    its schema."""
    base, _, _, _ = prep
    (spark.read.parquet(str(base / "input"))
     .withColumn("text", F.lit(None).cast("string"))
     .write.mode("overwrite").parquet(str(base / "input_allnull")))
    summary = run(spark, _args(base, "input_allnull", "out_allnull"))
    assert _no_docs_kept(spark, base, "out_allnull", summary, 0) == {}


def test_round_trip_budget(spark, prep):
    """Per-row expressions are handed to the JVM as SQL text: a run
    sends ~500 py4j commands (~3,400 when each was a chain of Column
    methods, ~12 commands per method through PySpark's call-site
    capture), and building the extraction plan ~70 (~420)."""
    from html_parser_spark.plans.pipeline import extract_turns
    from html_parser_spark.sources.catalog import read_transcripts

    base, _, _, _ = prep
    with jvm_round_trips() as n:
        run(spark, _args(base, "input", "out_rt"))
    assert 0 < n[0] <= 600
    with jvm_round_trips() as n:
        extract_turns(read_transcripts(spark, str(base / "input")))
    assert 0 < n[0] <= 100
