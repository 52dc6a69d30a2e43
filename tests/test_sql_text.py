"""The per-row rules written as Spark SQL text give the same rows and
schemas as their Column-API reference forms (tests/support.py), on
random frames with null and empty text, quotes, backslashes and
non-ASCII, under both settings of
``spark.sql.parser.escapedStringLiterals`` (the setting changes how a
backslash in a SQL string literal parses; the rules keep backslashes
out of SQL text, so it must change nothing).
"""

import random

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from html_parser_spark.operators.corpusprep import hash_bucket, split_assign, with_packing
from html_parser_spark.operators.curate import curate_corpus
from html_parser_spark.operators.pii import pii_counts, redact_pii
from html_parser_spark.operators.textstats import STOPWORDS, lang_id, quality_score
from html_parser_spark.sql import ident
from support import (
    ref_curate_corpus, ref_hash_bucket, ref_lang_id, ref_pii_counts, ref_quality_score,
    ref_redact_pii, ref_split_assign, ref_with_packing,
)

_PIECES = (
    [w for ws in STOPWORDS.values() for w in ws]
    + ["it's", "a\\b", "C:\\dir", "\\d+", "'", "''", '"', "`x`", "ünïcödé", "日本語",
       "naïve", "a@b.co", "mail x.y@host.org", "10.20.30.40", "123-45-6789",
       "555-867-5309", "!!", "?", "Word", "x" * 30]
)
_IDS = ["d'1", "d\\2", "dé3", "`d4`", "d5"]


def _frame(spark, seed, n=160):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.random()
        if k < 0.08:
            text = None
        elif k < 0.14:
            text = ""
        else:
            text = " ".join(rng.choice(_PIECES) for _ in range(rng.randint(1, 90)))
        if i % 7 == 0 and rows:
            text = rows[rng.randrange(len(rows))][1]  # exact duplicates
        doc_id = f"{rng.choice(_IDS)}-{i}"
        lang = rng.choice(["en", "fr", "e'n", "de\\x", None])
        rows.append((doc_id, text, lang, rng.choice(["train", "v'al", "te\\st"])))
    return spark.createDataFrame(rows, "doc_id string, text string, lang string, split string")


def _outcome(df):
    """(schema, sorted rows), or the error condition when the plan fails."""
    try:
        return df.schema, sorted(map(repr, df.collect()))
    except PySparkException as e:
        return "error", e.getCondition()


def _pairs(df):
    yield "lang_id", ref_lang_id(df), lang_id(df)
    for nd in (4, None):
        yield (f"quality_score/{nd}",
               df.select("doc_id", ref_quality_score("text", nd).alias("q")),
               df.select("doc_id", quality_score("text", nd).alias("q")))
    for langs in (("en", "und"), ("e'n", "fr", "de\\x")):
        for lang_col in (None, "lang"):
            kw = dict(quality_threshold=0.3, langs=langs, min_tokens=3, lang_col=lang_col)
            yield (f"curate_corpus/{langs}/{lang_col}",
                   ref_curate_corpus(df, **kw), curate_corpus(df, **kw))
    for splits in ((("tr'ain", 0.5), ("v\\al", 0.25), ("te'\\st", 0.25)), (("all", 1.0),),
                   (("a", 0.0), ("b", 1.0))):
        yield (f"split_assign/{splits}",
               ref_split_assign(df, splits=splits, buckets=100),
               split_assign(df, splits=splits, buckets=100))
    for b in (1, 7, 1000):
        yield (f"hash_bucket/{b}", df.select(ref_hash_bucket("doc_id", b).alias("b")),
               df.select(hash_bucket("doc_id", b).alias("b")))
    yield "pii_counts", df.select(*ref_pii_counts("text")), df.select(*pii_counts("text"))
    yield ("redact_pii", df.select(ref_redact_pii("text").alias("r")),
           df.select(redact_pii("text").alias("r")))
    for by in ((), ("split",)):
        yield (f"with_packing/{by}", ref_with_packing(df, by, budget=16, n_buckets=3),
               with_packing(df, by, budget=16, n_buckets=3))


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_sql_text_builders_match_column_reference(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        for seed in (1, 2):
            df = _frame(spark, seed).cache()
            for name, ref, new in _pairs(df):
                want, got = _outcome(ref), _outcome(new)
                assert got == want, (name, seed)
                assert want[0] != "error", (name, want)
            df.unpersist()
    finally:
        spark.conf.set(key, old)


def test_quality_score_of_empty_text_is_the_oracles(spark, tmp_path):
    """An empty text has no punctuation ratio: the gated query scores it
    as its DuckDB twin does (0/0 is NULL there, and ``least`` skips a
    NULL in both engines) instead of failing on ANSI division by zero."""
    import duckdb

    import __spark_entry__ as entry

    path = tmp_path / "documents.parquet"
    spark.createDataFrame([("e", ""), ("p", "!!"), ("w", "the cat sat")],
                          "doc_id string, text string").write.parquet(str(path))
    got = sorted(map(tuple, entry.queries()["quality_score"](spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.execute(f"create view documents as select * from read_parquet('{path}/*.parquet')")
    want = sorted(con.sql(entry.oracle_sql()["quality_score"]).fetchall())
    con.close()
    assert got == want
    assert dict(got)["e"] is not None


def test_ident_quotes_any_column_name(spark):
    names = ["plain", "with space", "back`tick", "it's", "a\\b", "dot.ted", "ünï"]
    df = spark.createDataFrame([tuple(range(len(names)))], ", ".join(
        f"{ident(n)} int" for n in names))
    assert df.selectExpr(*[ident(n) for n in names]).columns == names
    assert df.select(F.expr(ident("back`tick"))).first()[0] == 2
