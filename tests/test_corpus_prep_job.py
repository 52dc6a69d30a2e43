"""End-to-end corpus-prep job (jobs/corpus_prep_job.py): the composed
extract → curate → split → scrub → pack pipeline, run in-process.

Pins: output schema/partitioning, packing-stream contiguity per
(split, bucket), splits never share a packing stream, bit-level
determinism across reruns (the job's documented overwrite contract
rests on it), one kernel pass per input turn, at most two Spark
actions per run with the drop-reason counts observed above the packing
shuffle and nothing cached, counts that stay exact when tasks are
retried, a summary that agrees with the written tables, null-text
turns never reaching the kernel or the output, the same rows under
both ANSI settings, an empty extracted text classified rather than
failing the run, runs that keep no document (the docs table then read
with ``DOCS_DDL``), no persisted frame outliving the job, and a cap on
the driver's py4j round trips per run.
"""

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.curate import curate_corpus
from html_parser_spark.sources.transcripts import transcripts_from_documents
from jobs.corpus_prep_job import DOCS_DDL, parse_args, run
from support import jvm_round_trips

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    execs = range(before + 1, _last_execution_id(spark) + 1)
    return base, args, summary, execs


def test_summary_and_output_schema(spark, prep):
    base, _, summary, _ = prep
    assert summary["rows_kept"] > 0
    assert summary["rows_kept"] <= summary["rows_in"]
    docs = spark.read.parquet(str(base / "out" / "docs"))
    assert docs.count() == summary["rows_kept"]
    # the schema readers pass when a run keeps no document
    assert docs.schema == spark.createDataFrame([], DOCS_DDL).schema
    assert set(summary["splits"]) <= {"train", "val", "test"}
    # curation accounting exists (kept row at minimum)
    stats = spark.read.parquet(str(base / "out" / "stats"))
    assert stats.count() >= 1


def test_two_actions_and_summary_matches_tables(spark, prep):
    base, _, summary, execs = prep
    # the docs write, which also observes the counts, and the stats
    # write; nothing is collected, counted or re-read
    assert 1 <= len(execs) <= 2
    stats = spark.read.parquet(str(base / "out" / "stats"))
    assert summary["rows_in"] == stats.agg(F.sum("n_docs")).first()[0]
    docs = spark.read.parquet(str(base / "out" / "docs"))
    assert summary["splits"] == {
        r["split"]: r["n"]
        for r in docs.groupBy("split").agg(F.count("*").alias("n")).collect()}


def _final_plan(spark, execution_id):
    """The executed (AQE final) physical plan text of one SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    return store.execution(execution_id).get().physicalPlanDescription()


def test_counts_observed_above_packing_shuffle(spark, prep):
    """A result task's accumulator updates are applied once per
    partition; a resubmitted shuffle-map stage's are applied again.  So
    the counts are observed in the docs write's result stage, above the
    (split, bucket) Exchange, and no cached frame is scanned."""
    base, _, _, execs = prep
    plans = [_final_plan(spark, e) for e in execs]
    docs = [p for p in plans if str(base / "out" / "docs") in p]
    assert len(docs) == 1
    plan = docs[0]
    assert "InMemoryTableScan" not in plan
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert tree.count("CollectMetrics") == 1
    pack = re.search(r"\((\d+)\) Exchange\nInput \[\d+\]: \[.*\]\n"
                     r"Arguments: hashpartitioning\(split#\d+L?, bucket#\d+L?, ", plan)
    assert pack, plan
    assert tree.index("CollectMetrics (") < tree.index(f"Exchange ({pack.group(1)})")


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

    def counted(df):
        return real(df).withColumn("main_text", count_rows("main_text"))

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
    # no parquet file is written, so the schema comes from the reader
    assert spark.read.schema(DOCS_DDL).parquet(str(base / "out_none" / "docs")).count() == 0


def test_all_text_null(spark, prep):
    """No turn reaches curation: the stats table is written empty, with
    its schema."""
    base, _, _, _ = prep
    (spark.read.parquet(str(base / "input"))
     .withColumn("text", F.lit(None).cast("string"))
     .write.mode("overwrite").parquet(str(base / "input_allnull")))
    summary = run(spark, _args(base, "input_allnull", "out_allnull"))
    assert _no_docs_kept(spark, base, "out_allnull", summary, 0) == {}


def test_ansi_settings_and_empty_text(spark, prep):
    """With the default arguments some turns are dropped and ride the
    packing shuffle with a NULL text.  With ANSI off ``size`` of a NULL
    array is -1, not NULL; the kept rows' offsets must not see it.  With
    ANSI on, a turn whose text extracts to "" must be classified
    (``too_short``) instead of failing the run on the quality score's
    division.  Under both settings a NULL text has NULL tokens, so a
    direct ``curate_corpus`` call keeps it (the job itself filters NULL
    texts before the kernel)."""
    base, _, _, _ = prep
    t = spark.read.parquet(str(base / "input"))
    empty_turn = (t.limit(1).withColumn("conv_id", F.lit("empty-0"))
                  .withColumn("text", F.lit("<p></p>")))
    t.unionByName(empty_turn).write.mode("overwrite").parquet(str(base / "input_empty"))
    null_doc = spark.createDataFrame([("n", None)], "doc_id string, text string")
    curate_null = {}
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    try:
        for ansi in ("false", "true"):
            spark.conf.set(key, ansi)
            curate_null[ansi] = curate_corpus(
                null_doc, langs=("en", "und"), min_tokens=3,
                quality_threshold=0.0).first()["drop_reason"]
        spark.conf.set(key, "false")
        plain = run(spark, parse_args(["--input", str(base / "input"),
                                       "--output", str(base / "out_noansi")]))
        spark.conf.set(key, "true")
        empty = run(spark, parse_args(["--input", str(base / "input_empty"),
                                       "--output", str(base / "out_empty")]))
    finally:
        spark.conf.set(key, old)
    assert curate_null == {"false": None, "true": None}
    stats = {out: {r["reason"]: r["n_docs"] for r in spark.read.parquet(
        str(base / out / "stats")).collect()} for out in ("out_noansi", "out_empty")}
    assert plain["rows_kept"] < plain["rows_in"]
    assert empty == {**plain, "rows_in": plain["rows_in"] + 1}
    assert stats["out_empty"] == {**stats["out_noansi"],
                                  "too_short": stats["out_noansi"].get("too_short", 0) + 1}
    docs = [sorted(map(tuple, spark.read.parquet(str(base / out / "docs")).collect()))
            for out in ("out_noansi", "out_empty")]
    assert docs[0] == docs[1]


_RETRY_RUN = """
import json, os, sys
import pandas as pd
from pyspark.sql import SparkSession, functions as F

inp, out, marks = sys.argv[1:]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false").config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4").config("spark.driver.memory", "1g")
         .getOrCreate())
spark.sparkContext.setLogLevel("OFF")

import html_parser_spark.operators.corpusprep as corpusprep
import html_parser_spark.plans.pipeline as pipeline
from jobs.corpus_prep_job import parse_args, run


def fail_once(mark):
    # the first task to reach it fails; its retry and every other task pass
    @F.pandas_udf("string")
    def udf(s: pd.Series) -> pd.Series:
        try:
            os.close(os.open(os.path.join(marks, mark), os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            return s
        raise RuntimeError("injected task failure: " + mark)
    return udf


def outputs(name):
    summary = run(spark, parse_args(["--input", inp, "--output", os.path.join(out, name)]))
    stats = sorted(map(tuple, spark.read.parquet(os.path.join(out, name, "stats")).collect()))
    return {"summary": summary, "stats": stats}


clean = outputs("clean")
extract, pack = pipeline.extract_turns, corpusprep.with_packing
pipeline.extract_turns = lambda df: extract(df).withColumn(
    "main_text", fail_once("kernel")("main_text"))
corpusprep.with_packing = lambda *a, **kw: pack(*a, **kw).withColumn(
    "text", fail_once("result")("text"))
retried = outputs("retried")
print(json.dumps({"clean": clean, "retried": retried, "failed": sorted(os.listdir(marks))}))
"""


def test_counts_exact_under_task_retries(prep, tmp_path):
    """One first-attempt task failure in the kernel stage and one in the
    docs write's result stage (``local[2,2]`` retries each once): the
    observed counts, hence the summary and the stats, equal a clean
    run's."""
    base, _, _, _ = prep
    (tmp_path / "marks").mkdir()
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_RUN, str(base / "input"), str(tmp_path / "out"),
         str(tmp_path / "marks")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["failed"] == ["kernel", "result"]
    assert res["retried"] == res["clean"]
    assert res["clean"]["summary"]["rows_kept"] < res["clean"]["summary"]["rows_in"]


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
