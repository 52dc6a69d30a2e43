"""The per-row rules written as Spark SQL text give the same rows and
schemas as their Column-API reference forms (tests/support.py), on
random frames with null and empty text, quotes, backslashes and
non-ASCII, and on vector frames with NULL, ragged and NULL-element
vectors, under both settings of
``spark.sql.parser.escapedStringLiterals`` (the setting changes how a
backslash in a SQL string literal parses; the rules keep backslashes
out of SQL text, so it must change nothing).  The two exceptions are
the rows where the references are wrong: the empty text of
``quality_features`` and, with ANSI off, the NULL text of the
token counts (tested on their own below).
"""

import random

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from html_parser_spark.operators.corpusprep import (
    chunk_documents, hash_bucket, split_assign, with_packing,
)
from html_parser_spark.operators.curate import curate_corpus
from html_parser_spark.operators.dedup import (
    _banded_candidate_pairs, embedding_lsh_signatures, embedding_near_dups, exact_dedup,
    incremental_new_docs, simhash64, word_shingles,
)
from html_parser_spark.operators.lexical import bm25_scores
from html_parser_spark.operators.pii import pii_counts, redact_pii
from html_parser_spark.operators.similarity import build_ivf_index, ivf_topk_batch, with_cosine
from html_parser_spark.operators.textstats import (
    STOPWORDS, bigram_counts, doc_bigram_nll, doc_neg_logprob, fingerprint, lang_id,
    normalize_text, quality_features, quality_score, unigram_counts,
)
from html_parser_spark.sql import ident
from support import (
    ref_banded_candidate_pairs, ref_bigram_counts, ref_bm25_scores, ref_chunk_documents, ref_curate_corpus,
    ref_doc_bigram_nll, ref_doc_neg_logprob, ref_embedding_lsh_signatures,
    ref_embedding_near_dups, ref_exact_dedup, ref_fingerprint, ref_hash_bucket,
    ref_incremental_new_docs, ref_ivf_topk_batch, ref_lang_id, ref_normalize_text,
    ref_pii_counts, ref_quality_features, ref_quality_score, ref_redact_pii, ref_simhash64,
    ref_split_assign, ref_unigram_counts, ref_with_cosine, ref_with_packing, ref_word_shingles,
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


def _vectors(spark, seed, n=90, dim=8):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.random()
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        if k < 0.06:
            v = None
        elif k < 0.12:
            v = v + [0.5]  # ragged
        elif k < 0.16:
            v[rng.randrange(dim)] = None
        elif k < 0.4 and rows and rows[-1][1] and len(rows[-1][1]) == dim:
            v = [x + rng.uniform(-0.05, 0.05) if x is not None else None for x in rows[-1][1]]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _r9(df, col):
    """``col`` rounded to 9 places: an aggregate's float sum order
    depends on shuffle fetch order."""
    return df.withColumn(col, F.round(col, 9))


def _outcome(df):
    """(schema, sorted rows), or the error condition when the plan fails."""
    try:
        return df.schema, sorted(map(repr, df.collect()))
    except PySparkException as e:
        return "error", e.getCondition()


def _pairs(df, vec):
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
    some = df.where("text IS NULL OR text <> ''")  # "" divides by zero in the reference
    yield "quality_features", ref_quality_features(some), quality_features(some)
    yield "unigram_counts", ref_unigram_counts(df), unigram_counts(df)
    yield "bigram_counts", ref_bigram_counts(df), bigram_counts(df)
    yield "doc_neg_logprob", _r9(ref_doc_neg_logprob(df), "nll"), _r9(doc_neg_logprob(df), "nll")
    yield "doc_bigram_nll", _r9(ref_doc_bigram_nll(df), "nll2"), _r9(doc_bigram_nll(df), "nll2")
    terms = ["the", "it's", "a\\b", "ünïcödé", "'", ""]
    yield ("bm25_scores", _r9(ref_bm25_scores(df, terms), "score"),
           _r9(bm25_scores(df, terms), "score"))
    for chunk, overlap in ((4, 1), (64, 16)):
        yield (f"chunk_documents/{chunk}", ref_chunk_documents(df, chunk=chunk, overlap=overlap),
               chunk_documents(df, chunk=chunk, overlap=overlap))
    for n in (1, 2, 3):
        yield (f"word_shingles/{n}", df.select("doc_id", ref_word_shingles("text", n).alias("s")),
               df.select("doc_id", word_shingles("text", n).alias("s")))
    for bits in (60, 20):
        yield f"simhash64/{bits}", ref_simhash64(df, bits=bits), simhash64(df, bits=bits)
    yield "exact_dedup", ref_exact_dedup(df), exact_dedup(df)
    history = df.where(F.col("doc_id").startswith("d5") | F.col("doc_id").startswith("d'1"))
    yield ("incremental_new_docs", ref_incremental_new_docs(df, history),
           incremental_new_docs(df, history))
    yield ("fingerprint", df.select("doc_id", ref_fingerprint("text").alias("fp")),
           df.select("doc_id", fingerprint("text").alias("fp")))
    for lower in (True, False):
        yield (f"normalize_text/{lower}", ref_normalize_text(df, lowercase=lower),
               normalize_text(df, lowercase=lower))
    for q in ([0.5, -0.25, 0.1, 0.0, -0.0, 1.0, 0.3, -0.7],
              [1e-300, float("inf"), float("-inf"), float("nan"), 1e16, 2, -3, 0.1]):
        yield f"with_cosine/{q[0]}", ref_with_cosine(vec, q), with_cosine(vec, q)
    for bands, bits in ((4, 8), (2, 3)):
        yield (f"embedding_lsh_signatures/{bands}x{bits}",
               ref_embedding_lsh_signatures(vec, 8, bands=bands, band_bits=bits),
               embedding_lsh_signatures(vec, bands=bands, band_bits=bits))
        yield (f"embedding_near_dups/{bands}x{bits}",
               ref_embedding_near_dups(vec, 8, 0.3, bands, bits),
               embedding_near_dups(vec, threshold=0.3, bands=bands, band_bits=bits, dim=8))
    sigs = embedding_lsh_signatures(vec, bands=2, band_bits=3, dim=8)
    for cap in (None, 3):
        yield (f"banded_candidate_pairs/{cap}",
               ref_banded_candidate_pairs(sigs, carry=("key",), max_bucket_size=cap),
               _banded_candidate_pairs(sigs, carry=("key",), max_bucket_size=cap))
    whole = vec.where("size(embedding) = 8 AND NOT exists(embedding, x -> x IS NULL)")
    indexed, cents = build_ivf_index(whole, 3)
    queries = whole.where("vec_id < 30").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    yield ("ivf_topk_batch", ref_ivf_topk_batch(indexed, cents, queries, k=3),
           ivf_topk_batch(indexed, cents, queries, k=3))


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_sql_text_builders_match_column_reference(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        for seed in (1, 2):
            df, vec = _frame(spark, seed).cache(), _vectors(spark, seed).cache()
            for name, ref, new in _pairs(df, vec):
                want, got = _outcome(ref), _outcome(new)
                assert got == want, (name, seed)
                assert want[0] != "error", (name, want)
            df.unpersist()
            vec.unpersist()
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


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_quality_features_of_null_and_empty_text(spark, ansi):
    """A NULL text has NULL features and an empty one NULL byte ratios
    (DuckDB's 0/0, so the gated query's twin agrees), under both ANSI
    settings: ANSI on used to fail the collect on the empty text's
    division by zero, ANSI off to count -1 tokens for a NULL text."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ansi)
    try:
        df = spark.createDataFrame([("e", ""), ("n", None), ("h", "Hi there.")],
                                   "doc_id string, text string")
        got = {r[0]: tuple(r[2:]) for r in quality_features(df).collect()}
    finally:
        spark.conf.set(key, old)
    assert got == {"e": (1, 0, 0.0, None, 0.0, None), "n": (None,) * 6,
                   "h": (2, 9, 4.0, 0.1111, 0.0, 0.1111)}


def test_ident_quotes_any_column_name(spark):
    names = ["plain", "with space", "back`tick", "it's", "a\\b", "dot.ted", "ünï"]
    df = spark.createDataFrame([tuple(range(len(names)))], ", ".join(
        f"{ident(n)} int" for n in names))
    assert df.selectExpr(*[ident(n) for n in names]).columns == names
    assert df.select(F.expr(ident("back`tick"))).first()[0] == 2
