"""Source/sink abstraction (Iceberg-or-parquet) and spark-submit job
entry point. The actual spark-submit deployment (zip + resume) is
exercised out-of-process; here we pin the building blocks."""

import os
import sys
import zipfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from html_parser_spark.sources.catalog import (
    _is_table_ident, iceberg_available, read_table, write_table,
)


def test_iceberg_probe_is_safe(spark):
    # Sandbox has no Iceberg runtime; the probe must say so, not raise.
    assert iceberg_available(spark) is False


def test_table_ident_heuristic():
    assert _is_table_ident("catalog.db.transcripts")
    assert not _is_table_ident("/data/transcripts")
    assert not _is_table_ident("s3://bucket/path.parquet")
    assert not _is_table_ident("transcripts")


def test_read_write_parquet_fallback(spark, sf_dir, tmp_path):
    df = read_table(spark, f"{sf_dir}/documents.parquet")
    assert df.count() > 0
    out = df.limit(100).withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(4)).cast("int"))
    write_table(out, str(tmp_path / "t"))
    back = read_table(spark, str(tmp_path / "t"))
    assert back.count() == 100
    assert sorted(c for c in back.columns) == sorted(out.columns)
    # partition dirs exist -> partition pruning is available to Catalyst
    assert any(p.startswith("bucket=") for p in os.listdir(tmp_path / "t"))


def test_iceberg_branch_routing(spark, monkeypatch, tmp_path):
    """Contract test for the never-exercisable-in-sandbox Iceberg
    branch (round-3 verdict item): with the capability probe mocked
    true, a table IDENT must route to the Iceberg reader/writer and a
    PATH must still route to parquet; with the probe false, idents fall
    back to parquet.  Fails if the routing or the seam signatures
    drift."""
    from html_parser_spark.sources import catalog

    df = spark.range(4).withColumn("bucket", (F.col("id") % 2).cast("int"))
    calls = []
    monkeypatch.setattr(catalog, "iceberg_available", lambda s: True)
    monkeypatch.setattr(catalog, "_read_iceberg",
                        lambda s, src: calls.append(("read", src)) or df)
    monkeypatch.setattr(catalog, "_write_iceberg",
                        lambda d, dst, mode: calls.append(("write", dst, mode)))

    assert catalog.read_table(spark, "cat.db.transcripts") is df
    catalog.write_table(df, "cat.db.out")
    catalog.write_table(df, "cat.db.out", mode="append")
    # a filesystem path must NEVER route to the catalog branch
    pdir = str(tmp_path / "p")
    catalog.write_table(df, pdir)
    assert catalog.read_table(spark, pdir).count() == 4
    assert calls == [("read", "cat.db.transcripts"),
                     ("write", "cat.db.out", "overwrite"),
                     ("write", "cat.db.out", "append")]

    # run_extraction appends its control rows through the same routing
    from html_parser_spark.plans.pipeline import CONTROL_COLUMNS, run_extraction

    sent = []
    monkeypatch.setattr(catalog, "_write_iceberg", lambda d, dst, mode: sent.append(
        (dst, mode, d.columns, {r["run_id"] for r in d.collect()})))
    turns = spark.createDataFrame(
        [("c1", 0, "user", "<p>hello</p>", None, None),
         ("c1", 1, "assistant", "<p>world</p>", None, None)], catalog.TRANSCRIPT_DDL)
    run_extraction(spark, turns, str(tmp_path / "out"), "cat.db.control", "r1",
                   resume=False)
    assert sent == [("cat.db.control", "append", CONTROL_COLUMNS, {"r1"})]

    # probe false: idents fall back to the parquet reader
    monkeypatch.setattr(catalog, "iceberg_available", lambda s: False)
    monkeypatch.setattr(catalog, "_read_iceberg",
                        lambda s, src: (_ for _ in ()).throw(AssertionError("routed to iceberg")))
    try:
        catalog.read_table(spark, "cat.db.transcripts")
    except AssertionError:
        raise
    except Exception:
        pass  # parquet reader rejects the ident path — correct branch taken


def test_parquet_fallback_matches_overwrite_partitions_contract(spark, tmp_path):
    """The fallback claims ``overwritePartitions`` equivalence (module
    docstring table).  Pin it against a plain-Python model of Iceberg's
    dynamic partition replace: writing a df that touches a SUBSET of
    partitions replaces exactly those partitions and leaves the rest.
    Deliberately does NOT set the session-level partitionOverwriteMode
    conf — the contract must hold unconditionally via the per-write
    option (a session-conf-dependent fallback would silently drop
    untouched partitions for direct write_table callers)."""
    from html_parser_spark.sources.catalog import read_table, write_table

    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    dst = str(tmp_path / "t")
    rows1 = [(i, i % 4, f"v1-{i}") for i in range(16)]
    df1 = spark.createDataFrame(rows1, "id int, bucket int, val string")
    write_table(df1, dst)

    # rewrite only buckets {1, 3} with new values and fewer rows
    rows2 = [(100 + b, b, f"v2-{b}") for b in (1, 3)]
    df2 = spark.createDataFrame(rows2, "id int, bucket int, val string")
    write_table(df2, dst)

    # plain-Python overwritePartitions model
    state = {(i, b, v) for i, b, v in rows1 if b not in (1, 3)}
    state |= set(rows2)
    got = {(r["id"], r["bucket"], r["val"])
           for r in read_table(spark, dst).collect()}
    assert got == state


def test_job_arg_parsing():
    from jobs.extract_job import parse_args

    a = parse_args([
        "--input", "/in", "--output", "/out", "--control", "/ctl",
        "--run-id", "r1",
    ])
    assert (a.buckets, a.no_resume, a.no_ordering_check) == (256, False, False)
    b = parse_args([
        "--input", "i", "--output", "o", "--control", "c", "--run-id", "r",
        "--buckets", "4096", "--no-resume",
    ])
    assert b.buckets == 4096 and b.no_resume


def test_pyfiles_zip_is_self_contained(tmp_path):
    from tools.make_pyfiles import build

    out = str(tmp_path / "pkg.zip")
    n = build(out)
    assert n >= 20
    with zipfile.ZipFile(out) as z:
        names = z.namelist()
    # the kernel, operators, plans, sources, streaming must all ship
    for mod in (
        "html_parser_spark/kernel/htmlparse.py",
        "html_parser_spark/kernel/selector.py",
        "html_parser_spark/operators/html_ops.py",
        "html_parser_spark/plans/pipeline.py",
        "html_parser_spark/sources/catalog.py",
        "html_parser_spark/streaming/stateful.py",
    ):
        assert mod in names, mod


def test_read_transcripts_all_formats_agree(spark, sf_dir, tmp_path):
    """parquet/json/csv readers produce identical rows with the
    canonical enforced schema."""
    from html_parser_spark.sources.catalog import TRANSCRIPT_DDL, read_transcripts
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=10).drop(
        "doc_id", "expected_main_text").limit(200).cache()
    t.write.mode("overwrite").parquet(str(tmp_path / "p"))
    t.write.mode("overwrite").orc(str(tmp_path / "o"))
    t.write.mode("overwrite").json(str(tmp_path / "j"))
    (t.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
      .write.mode("overwrite").option("header", "true").csv(str(tmp_path / "c")))
    # XML must round-trip the HTML-laden text column exactly (the
    # writer escapes markup, the reader unescapes it)
    t.write.mode("overwrite").format("xml").option("rowTag", "turn").save(
        str(tmp_path / "x"))

    p = read_transcripts(spark, str(tmp_path / "p"))
    o = read_transcripts(spark, str(tmp_path / "o"), fmt="orc")
    j = read_transcripts(spark, str(tmp_path / "j"), fmt="json")
    c = read_transcripts(spark, str(tmp_path / "c"), fmt="csv")
    x = read_transcripts(spark, str(tmp_path / "x"), fmt="xml")
    for df in (o, j, c, x):
        assert [f.simpleString() for f in df.schema.fields] == \
               [f.simpleString() for f in p.schema.fields]
    assert p.exceptAll(o).count() == 0 and o.exceptAll(p).count() == 0
    assert p.exceptAll(j).count() == 0 and j.exceptAll(p).count() == 0
    assert p.exceptAll(c).count() == 0 and c.exceptAll(p).count() == 0
    assert p.exceptAll(x).count() == 0 and x.exceptAll(p).count() == 0

    import pytest
    with pytest.raises(ValueError):
        read_transcripts(spark, "x", fmt="avro")


def _transcript_file(path, **columns):
    """One-row transcripts parquet written by pyarrow (no Spark job),
    with the perfbench generator's types unless overridden; a column
    given as None is left out."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "conv_id": pa.array(["c0"]), "turn_idx": pa.array([0], pa.int32()),
        "role": pa.array(["user"]), "text": pa.array(["<p>hi</p>"]),
        "tool": pa.array([""]),
        "ts": pa.array([datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)],
                       pa.timestamp("us", tz="UTC")),
    }
    cols.update(columns)
    os.makedirs(path)
    pq.write_table(pa.table({k: v for k, v in cols.items() if v is not None}),
                   os.path.join(path, "part-0.parquet"))
    return path


def test_read_transcripts_enforces_the_declared_types(spark, tmp_path):
    """int32 ``turn_idx`` (what perfbench writes) and narrower integers
    read as declared; a retyped or missing column fails at the read
    instead of being cast or nulled."""
    import pyarrow as pa
    import pytest

    from html_parser_spark.sources.catalog import TRANSCRIPT_DDL, read_transcripts

    declared = [tuple(c.split()) for c in TRANSCRIPT_DDL.split(",")]
    for name, typ in (("int32", pa.int32()), ("int16", pa.int16()), ("int8", pa.int8())):
        df = read_transcripts(spark, _transcript_file(
            str(tmp_path / name), turn_idx=pa.array([0], typ)))
        assert df.dtypes == declared
        assert df.first()["turn_idx"] == 0
    with pytest.raises(ValueError, match="turn_idx: expected int, found string"):
        read_transcripts(spark, _transcript_file(
            str(tmp_path / "retyped"), turn_idx=pa.array(["0"])))
    with pytest.raises(ValueError, match="turn_idx: expected int, found bigint"):
        read_transcripts(spark, _transcript_file(
            str(tmp_path / "wider"), turn_idx=pa.array([0], pa.int64())))
    with pytest.raises(ValueError, match="tool: expected string, found None"):
        read_transcripts(spark, _transcript_file(str(tmp_path / "missing"), tool=None))
