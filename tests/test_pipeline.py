"""End-to-end pipeline: per-turn text equality under stable turn
ordering, bucket checkpointing, idempotent resume."""

import os

import pytest
from pyspark.sql import functions as F

from html_parser_spark.plans.pipeline import (
    PipelineConfig, assert_turn_ordering, completed_buckets, run_extraction,
    with_bucket,
)
from html_parser_spark.sources.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def transcripts(spark, sf_dir):
    # unpersisted at module end: a cached copy would stand in for this
    # plan in later tests' physical plans (test_plans' pruning check)
    t = transcripts_from_documents(spark, sf_dir, n_convs=50).cache()
    yield t
    t.unpersist()


def test_per_turn_text_equality(spark, transcripts):
    """The north-rule invariant: extracted main_text equals the known
    main content for EVERY turn, joined on (conv_id, turn_idx)."""
    from html_parser_spark.plans.pipeline import extract_turns

    expected = transcripts.select("conv_id", "turn_idx", "expected_main_text")
    out = extract_turns(transcripts.drop("expected_main_text", "doc_id"),
                        PipelineConfig(n_buckets=8))
    joined = out.join(expected, ["conv_id", "turn_idx"])
    total = joined.count()
    mismatches = joined.where(F.col("main_text") != F.col("expected_main_text")).count()
    assert total == transcripts.count()
    assert mismatches == 0


def test_ordering_assertion_passes_and_detects_violations(spark, transcripts):
    assert assert_turn_ordering(transcripts) == 0
    # break it: duplicate a turn
    broken = transcripts.union(transcripts.limit(1))
    assert assert_turn_ordering(broken) >= 1
    # a turn gap (c2) and non-zero starts (c3, and c4, which only the
    # min == 0 clause catches); c1 is dense
    turns = [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 1), ("c2", 3),
             ("c3", 1), ("c3", 2), ("c4", -1), ("c4", 1)]
    assert assert_turn_ordering(
        spark.createDataFrame(turns, "conv_id string, turn_idx int")) == 3


def test_run_and_resume(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out")
    ctl_dir = str(tmp_path / "control")
    cfg = PipelineConfig(n_buckets=4)

    m1 = run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                        out_dir, ctl_dir, run_id="r1", cfg=cfg)
    assert m1["rows_total"] == transcripts.count()
    assert m1["buckets_skipped"] == 0
    assert completed_buckets(spark, ctl_dir, "r1") == {0, 1, 2, 3}

    # resume same run: everything skipped, output unchanged, control grows idempotently
    m2 = run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                        out_dir, ctl_dir, run_id="r1", cfg=cfg)
    assert m2["buckets_skipped"] == 4
    assert m2["rows_total"] == m1["rows_total"]

    # output joins back losslessly
    out = spark.read.parquet(out_dir)
    assert out.select("conv_id", "turn_idx").distinct().count() == m1["rows_total"]
    # control table carries lineage metrics
    ctl = spark.read.parquet(ctl_dir)
    assert set(ctl.columns) >= {"run_id", "bucket", "n_rows", "n_convs", "wall_sec"}
    assert ctl.where(F.col("run_id") == "r1").agg(F.sum("n_rows")).collect()[0][0] >= m1["rows_total"]


def test_run_extraction_leaves_session_conf_unchanged(spark, transcripts, tmp_path):
    """Dynamic partition overwrite is a per-write option of write_table;
    a run must not switch the caller's session to it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                   str(tmp_path / "out"), str(tmp_path / "control"), run_id="conf",
                   cfg=PipelineConfig(n_buckets=2), check_ordering=False)
    assert spark.conf.get(key) == before


def test_partial_resume_processes_only_missing_buckets(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out2")
    ctl_dir = str(tmp_path / "control2")
    cfg = PipelineConfig(n_buckets=4)
    src = transcripts.drop("doc_id", "expected_main_text")

    # Simulate a crashed run: process buckets {0,1} only, with control rows.
    part = with_bucket(src, 4).where(F.col("bucket") < 2)
    run_extraction(spark, part.drop("bucket"), out_dir, ctl_dir, run_id="r2", cfg=cfg)
    pre = completed_buckets(spark, ctl_dir, "r2")
    assert pre == {0, 1}

    m = run_extraction(spark, src, out_dir, ctl_dir, run_id="r2", cfg=cfg)
    assert m["buckets_skipped"] == 2
    assert completed_buckets(spark, ctl_dir, "r2") == {0, 1, 2, 3}
    assert spark.read.parquet(out_dir).count() == src.count()


def test_control_rows_name_only_the_buckets_a_run_wrote(spark, transcripts, tmp_path):
    """Two runs write disjoint buckets into one output directory: the
    second run's control rows name only its own buckets, and its
    rows_total counts only its own rows."""
    out_dir, ctl_dir = str(tmp_path / "out"), str(tmp_path / "ctl")
    cfg = PipelineConfig(n_buckets=4)
    src = with_bucket(transcripts.drop("doc_id", "expected_main_text"), 4)
    first = src.where(F.col("bucket") < 2).drop("bucket")
    second = src.where(F.col("bucket") >= 2).drop("bucket")
    run_extraction(spark, first, out_dir, ctl_dir, run_id="a", cfg=cfg)
    m = run_extraction(spark, second, out_dir, ctl_dir, run_id="b", cfg=cfg)
    assert completed_buckets(spark, ctl_dir, "b") == {2, 3}
    assert m["rows_total"] == second.count()


def test_mid_bucket_crash_overwrites_partial_output(spark, transcripts, tmp_path):
    """The idempotency contract's hardest case: a run crashed MID-bucket
    — the bucket's output partition holds a partial write, but its
    control row (the commit record) never appended.  On resume the
    bucket is not in completed_buckets, so it re-extracts, and dynamic
    partition overwrite must REPLACE the partial partition, not append
    beside it — otherwise every mid-write crash duplicates rows."""
    from html_parser_spark.plans.pipeline import extract_turns
    from html_parser_spark.sources.catalog import write_table

    out_dir, ctl_dir = str(tmp_path / "out3"), str(tmp_path / "ctl3")
    cfg = PipelineConfig(n_buckets=4)
    src = transcripts.drop("doc_id", "expected_main_text")

    # bucket 0 committed cleanly (data + control row)
    b0 = with_bucket(src, 4).where(F.col("bucket") == 0)
    run_extraction(spark, b0.drop("bucket"), out_dir, ctl_dir, run_id="r3", cfg=cfg)
    assert completed_buckets(spark, ctl_dir, "r3") == {0}

    # crash mid-bucket-1: half its extracted rows reach the output
    # partition through the same writer, control row never appended
    b1 = with_bucket(src, 4).where(F.col("bucket") == 1)
    partial = extract_turns(b1, cfg).where(F.col("turn_idx") % 2 == 0)
    n_partial = partial.count()
    assert 0 < n_partial < b1.count()
    write_table(partial.repartition(1, F.col("bucket")), out_dir)
    assert completed_buckets(spark, ctl_dir, "r3") == {0}  # still uncommitted

    m = run_extraction(spark, src, out_dir, ctl_dir, run_id="r3", cfg=cfg)
    assert m["buckets_skipped"] == 1  # only the committed bucket 0
    out = spark.read.parquet(out_dir)
    assert out.count() == src.count()  # partial partition replaced, not appended
    assert out.select("conv_id", "turn_idx").distinct().count() == src.count()
    assert completed_buckets(spark, ctl_dir, "r3") == {0, 1, 2, 3}


def test_skewed_conversations_are_salted(spark, sf_dir):
    t = transcripts_from_documents(spark, sf_dir, n_convs=50, skew_pct=2, skew_factor=20)
    counts = t.groupBy("conv_id").count()
    mx = counts.agg(F.max("count")).collect()[0][0]
    med = counts.approxQuantile("count", [0.5], 0.01)[0]
    assert mx >= 5 * med  # the generator really makes skew
    from html_parser_spark.plans.pipeline import extract_turns, with_bucket

    out = extract_turns(t.drop("doc_id", "expected_main_text"),
                        PipelineConfig(n_buckets=4))
    assert out.count() == t.count()

    # The salted shuffle really spreads a monster conversation over
    # multiple tasks: its rows land in >1 physical partition, while the
    # unsalted repartition(bucket) would pin each conv to exactly one.
    # Explicit partition count: plain repartition(cols) lets AQE
    # coalesce this tiny shuffle into ONE partition, which is correct
    # behavior at test scale but would hide what salting does at real
    # scale (where partitions are ~64 MB and never collapse).
    monster = counts.orderBy(F.col("count").desc()).first()["conv_id"]
    salted = with_bucket(t, 4).repartition(
        8,
        F.col("bucket"),
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(4)).cast("int"),
    ).withColumn("pid", F.spark_partition_id())
    n_parts = (salted.where(F.col("conv_id") == monster)
               .select("pid").distinct().count())
    assert n_parts > 1

    # And the salted path produces byte-identical extraction output.
    out_salted = extract_turns(
        t.drop("doc_id", "expected_main_text"),
        PipelineConfig(n_buckets=4, n_salts=4))
    a = out.select("conv_id", "turn_idx", "main_text")
    b = out_salted.select("conv_id", "turn_idx", "main_text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_null_text_rows_survive_extraction(spark):
    """Rows with null text keep their place in the output with null
    extraction columns, on the map-only and the salted plan alike."""
    import datetime

    from html_parser_spark.plans.pipeline import extract_turns

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "user", "<p>hello</p>", "", ts),
        ("c1", 1, "assistant", None, "", ts),
        ("c2", 0, "user", "<p>hello</p>", "", ts),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, "
                                     "text string, tool string, ts timestamp")
    for cfg in (PipelineConfig(n_buckets=2), PipelineConfig(n_buckets=2, n_salts=2)):
        got = {(r["conv_id"], r["turn_idx"]): r for r in extract_turns(df, cfg).collect()}
        assert len(got) == 3, cfg
        null_row = got[("c1", 1)]
        assert null_row["main_text"] is None and null_row["n_nodes"] is None, cfg
        assert got[("c1", 0)]["main_text"] == "hello" and got[("c2", 0)]["main_text"] == "hello"


def test_pipeline_config_rejects_bad_values():
    assert PipelineConfig() == PipelineConfig(n_buckets=32, n_salts=0)
    PipelineConfig(n_buckets=1, n_salts=3)
    for bad in ({"n_buckets": 0}, {"n_buckets": -4}, {"n_salts": -1}):
        with pytest.raises(ValueError):
            PipelineConfig(**bad)


def test_resume_raises_on_corrupt_control_table(spark, transcripts, tmp_path):
    """Only a missing control table means "nothing done"; an unreadable
    one must stop the run, not trigger a full recompute that appends
    duplicate control rows."""
    ctl_dir = tmp_path / "ctl_corrupt"
    ctl_dir.mkdir()
    (ctl_dir / "part-0.parquet").write_bytes(b"not a parquet file" * 8)
    assert completed_buckets(spark, str(tmp_path / "no_such_ctl"), "r") == set()
    # a crash during the first control append leaves no data files
    (tmp_path / "ctl_uncommitted" / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(tmp_path / "ctl_uncommitted"), "r") == set()
    with pytest.raises(Exception):
        run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                       str(tmp_path / "out_corrupt"), str(ctl_dir), run_id="r",
                       cfg=PipelineConfig(n_buckets=4), resume=True)
    assert not (tmp_path / "out_corrupt").exists()
