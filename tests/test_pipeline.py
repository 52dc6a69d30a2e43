"""End-to-end pipeline: per-turn text equality under stable turn
ordering, bucket checkpointing, idempotent resume."""

import os

import pytest
from pyspark.sql import functions as F

from html_parser_spark.plans.pipeline import (
    N_BUCKETS, assert_turn_ordering, completed_buckets, extract_turns,
    run_extraction, with_bucket,
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
    expected = transcripts.select("conv_id", "turn_idx", "expected_main_text")
    out = extract_turns(transcripts.drop("expected_main_text", "doc_id"))
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

    m1 = run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                        out_dir, ctl_dir, run_id="r1", n_buckets=4)
    assert m1["rows_total"] == transcripts.count()
    assert m1["buckets_skipped"] == 0
    assert completed_buckets(spark, ctl_dir, "r1") == {0, 1, 2, 3}

    # resume same run: everything skipped, output unchanged, control grows idempotently
    m2 = run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                        out_dir, ctl_dir, run_id="r1", n_buckets=4)
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
                   n_buckets=2, check_ordering=False)
    assert spark.conf.get(key) == before


def test_partial_resume_processes_only_missing_buckets(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out2")
    ctl_dir = str(tmp_path / "control2")
    src = transcripts.drop("doc_id", "expected_main_text")

    # Simulate a crashed run: process buckets {0,1} only, with control rows.
    part = with_bucket(src, 4).where(F.col("bucket") < 2)
    run_extraction(spark, part.drop("bucket"), out_dir, ctl_dir, run_id="r2", n_buckets=4)
    pre = completed_buckets(spark, ctl_dir, "r2")
    assert pre == {0, 1}

    m = run_extraction(spark, src, out_dir, ctl_dir, run_id="r2", n_buckets=4)
    assert m["buckets_skipped"] == 2
    assert completed_buckets(spark, ctl_dir, "r2") == {0, 1, 2, 3}
    assert spark.read.parquet(out_dir).count() == src.count()


def test_control_rows_name_only_the_buckets_a_run_wrote(spark, transcripts, tmp_path):
    """Two runs write disjoint buckets into one output directory: the
    second run's control rows name only its own buckets, and its
    rows_total counts only its own rows."""
    out_dir, ctl_dir = str(tmp_path / "out"), str(tmp_path / "ctl")
    src = with_bucket(transcripts.drop("doc_id", "expected_main_text"), 4)
    first = src.where(F.col("bucket") < 2).drop("bucket")
    second = src.where(F.col("bucket") >= 2).drop("bucket")
    run_extraction(spark, first, out_dir, ctl_dir, run_id="a", n_buckets=4)
    m = run_extraction(spark, second, out_dir, ctl_dir, run_id="b", n_buckets=4)
    assert completed_buckets(spark, ctl_dir, "b") == {2, 3}
    assert m["rows_total"] == second.count()


def test_mid_bucket_crash_overwrites_partial_output(spark, transcripts, tmp_path):
    """The idempotency contract's hardest case: a run crashed MID-bucket
    — the bucket's output partition holds a partial write, but its
    control row (the commit record) never appended.  On resume the
    bucket is not in completed_buckets, so it re-extracts, and dynamic
    partition overwrite must REPLACE the partial partition, not append
    beside it — otherwise every mid-write crash duplicates rows."""
    from html_parser_spark.sources.catalog import write_table

    out_dir, ctl_dir = str(tmp_path / "out3"), str(tmp_path / "ctl3")
    src = transcripts.drop("doc_id", "expected_main_text")

    # bucket 0 committed cleanly (data + control row)
    b0 = with_bucket(src, 4).where(F.col("bucket") == 0)
    run_extraction(spark, b0.drop("bucket"), out_dir, ctl_dir, run_id="r3", n_buckets=4)
    assert completed_buckets(spark, ctl_dir, "r3") == {0}

    # crash mid-bucket-1: half its extracted rows reach the output
    # partition through the same writer, control row never appended
    b1 = with_bucket(src, 4).where(F.col("bucket") == 1)
    partial = extract_turns(b1).where(F.col("turn_idx") % 2 == 0)
    n_partial = partial.count()
    assert 0 < n_partial < b1.count()
    write_table(partial.repartition(1, F.col("bucket")), out_dir)
    assert completed_buckets(spark, ctl_dir, "r3") == {0}  # still uncommitted

    m = run_extraction(spark, src, out_dir, ctl_dir, run_id="r3", n_buckets=4)
    assert m["buckets_skipped"] == 1  # only the committed bucket 0
    out = spark.read.parquet(out_dir)
    assert out.count() == src.count()  # partial partition replaced, not appended
    assert out.select("conv_id", "turn_idx").distinct().count() == src.count()
    assert completed_buckets(spark, ctl_dir, "r3") == {0, 1, 2, 3}


def test_null_text_rows_survive_extraction(spark):
    """Rows with null text keep their place in the output with null
    extraction columns."""
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "user", "<p>hello</p>", "", ts),
        ("c1", 1, "assistant", None, "", ts),
        ("c2", 0, "user", "<p>hello</p>", "", ts),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, "
                                     "text string, tool string, ts timestamp")
    got = {(r["conv_id"], r["turn_idx"]): r for r in extract_turns(df).collect()}
    assert len(got) == 3
    null_row = got[("c1", 1)]
    assert null_row["main_text"] is None and null_row["n_nodes"] is None
    assert got[("c1", 0)]["main_text"] == "hello" and got[("c2", 0)]["main_text"] == "hello"


def test_extract_turns_passes_columns_through(spark):
    """The kernel stage replaces ``text`` with the four extraction
    columns and keeps every other column.  An input bucket passes
    through, as run_extraction's does; an input without one gets the
    stable default bucket."""
    df = spark.createDataFrame([("c1", 0, "<p>hi</p>", 7)],
                               "conv_id string, turn_idx int, text string, extra int")
    out = extract_turns(df)
    assert out.columns == ["conv_id", "turn_idx", "extra", "bucket",
                           "main_text", "spans", "n_nodes", "n_removed"]
    row = out.first()
    assert row["extra"] == 7 and row["main_text"] == "hi"
    assert row["bucket"] == with_bucket(df, N_BUCKETS).first()["bucket"]
    kept = extract_turns(df.withColumn("bucket", F.lit(3)))
    assert kept.columns == out.columns and kept.first()["bucket"] == 3


def test_run_extraction_rejects_bad_bucket_counts(spark, tmp_path):
    """A bucket count below one fails before run_extraction reads,
    extracts or writes anything, from the API and from the job's
    ``--buckets``."""
    import datetime

    from jobs.extract_job import main

    df = spark.createDataFrame(
        [("c1", 0, "user", "<p>hi</p>", "", datetime.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    for bad in (0, -4):
        with pytest.raises(ValueError, match="n_buckets"):
            run_extraction(spark, df, str(tmp_path / "o"), str(tmp_path / "c"),
                           run_id="r", n_buckets=bad)
    df.write.parquet(str(tmp_path / "in"))
    with pytest.raises(ValueError, match="n_buckets"):
        main(["--input", str(tmp_path / "in"), "--output", str(tmp_path / "o"),
              "--control", str(tmp_path / "c"), "--run-id", "r", "--buckets", "0"])
    assert not (tmp_path / "o").exists() and not (tmp_path / "c").exists()


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
                       n_buckets=4, resume=True)
    assert not (tmp_path / "out_corrupt").exists()
