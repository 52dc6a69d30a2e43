"""Helpers only the tests call: synthetic image/audio encoders for the
stdlib decoders, thin compositions over production operators, a py4j
round-trip counter, the Column-API reference forms of the operators'
SQL-text rules, the three-pass reference form of ``extract_main``,
and the query-hook twins of
``kernel.instrumentation.parse_with_hooks``.  The
encoders that feed gated queries (JPEG, GIF, media, PDF) live in the
package."""

from __future__ import annotations

import gc
import hashlib
import io
import struct
import time
import wave
import zlib
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, List, Optional, Sequence, Tuple, Union

import numpy as np
import pytest
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from html_parser_spark.kernel.entities import decode_entities
from html_parser_spark.kernel.extract import (
    _BLOCK_TAGS, _DEFAULT_REMOVE_COMPILED, LINK_DENSITY_THRESHOLD, ExtractResult,
)
from html_parser_spark.kernel.htmlparse import ELEMENT, TEXT, Dom, parse
from html_parser_spark.kernel.matcher import iter_query
from html_parser_spark.kernel.text import normalize_ws
from html_parser_spark.kernel.matcher import query_all, query_one
from html_parser_spark.kernel.selector import Selector, compile_selector
from html_parser_spark.operators.corpusprep import split_assign
from html_parser_spark.operators.dedup import plane_sign_matrix
from html_parser_spark.operators.multimodal import _PNG_CHANNELS, _PNG_SIG
from html_parser_spark.operators.pii import PII_PATTERNS
from html_parser_spark.operators.similarity import _cells_udf
from html_parser_spark.operators.textstats import (
    _PUNCT_RE, STOPWORDS, nfc_normalize_udf, token_count,
)


# -- multimodal: encoders for the stdlib decoders ----------------------

def synth_ppm(asset_id: int) -> bytes:
    """Deterministic P6 PPM whose pixel bytes are the ASCII md5
    hexdigest of the id, repeated — a real decodable image that a SQL
    oracle can reconstruct character-for-character (the driver's
    ``multimodal_real_decode`` twin)."""
    w = 4 + asset_id % 5
    h = 3 + asset_id % 4
    npix = w * h * 3
    digest = hashlib.md5(str(asset_id).encode()).hexdigest().encode()
    pixels = (digest * (npix // len(digest) + 1))[:npix]
    return b"P6\n%d %d\n255\n" % (w, h) + pixels


def synth_bmp(asset_id: int) -> bytes:
    """Deterministic 24bpp BMP (BI_RGB, bottom-up, padded rows)."""
    w = 2 + asset_id % 4
    h = 2 + asset_id % 3
    stride = (w * 3 + 3) & ~3
    pix = bytearray()
    for r in range(h):
        row = bytes((asset_id + r * w * 3 + c) % 256 for c in range(w * 3))
        pix += row + b"\x00" * (stride - w * 3)
    data_offset = 54
    size = data_offset + len(pix)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + dib + bytes(pix)


def synth_png(asset_id: int, color: int = 2, filter_type: int = 0) -> bytes:
    """Deterministic 8-bit PNG with every scanline forward-filtered
    with ``filter_type`` (0-4) — exercises the decoder's filter
    reconstruction for real."""
    w = 3 + asset_id % 5
    h = 2 + asset_id % 4
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    pixels = bytes((asset_id * 13 + i) % 256 for i in range(stride * h))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(stride)
    for r in range(h):
        line = pixels[r * stride:(r + 1) * stride]
        raw.append(filter_type)
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if filter_type == 0:
                v = line[i]
            elif filter_type == 1:
                v = line[i] - left
            elif filter_type == 2:
                v = line[i] - up
            elif filter_type == 3:
                v = line[i] - ((left + up) >> 1)
            else:
                v = line[i] - paeth(left, up, ul)
            raw.append(v & 0xFF)
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def synth_wav(asset_id: int) -> bytes:
    """Deterministic 8-bit mono PCM WAV."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(1)
        wv.setframerate(8000)
        frames = bytes((asset_id * 7 + i) % 256 for i in range(64))
        wv.writeframes(frames)
    return buf.getvalue()


# -- corpusprep ------------------------------------------------------

def split_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    splits: Sequence[Tuple[str, float]] = (
        ("train", 0.90), ("val", 0.05), ("test", 0.05),
    ),
    buckets: int = 1000,
) -> DataFrame:
    """Per-split document/token accounting (the sanity table every
    split job prints): counts and whitespace-token totals."""
    s = split_assign(docs, id_col, splits, buckets)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("n_tokens"),
    )


# -- driver round trips ----------------------------------------------

@contextmanager
def jvm_round_trips():
    """Count the py4j commands the driver sends inside the block
    (``n[0]``), object releases from py4j's collector thread included.
    Garbage left by earlier work is released before the count starts."""
    from py4j.clientserver import ClientServerConnection

    gc.collect()
    time.sleep(0.5)  # let the collector thread send those releases
    n = [0]
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        n[0] += 1
        return send(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counted)
        yield n


# -- Column-API reference forms of the SQL-text builders -------------
#
# The operators write their per-row expressions as Spark SQL text.
# These are the same rules written with Column methods, kept as the
# reference that tests/test_sql_text.py compares them against.

def ref_quality_score(text_col: str = "text", round_decimals: Optional[int] = 4) -> Column:
    w = F.split(F.col(text_col), " ")
    n_tokens = F.array_size(w)
    n_chars = F.nullif(F.octet_length(F.col(text_col)), F.lit(0))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))) / n_tokens
    len_score = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    punct_ratio = (n_chars - F.octet_length(F.regexp_replace(F.col(text_col), _PUNCT_RE, ""))) / n_chars
    raw = (
        F.lit(0.5) * len_score + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return raw if round_decimals is None else F.round(raw, round_decimals)


def ref_lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    w = F.split(F.col(text_col), " ")
    scored = []
    for i, code in enumerate(sorted(STOPWORDS)):
        arr = F.array(*[F.lit(s) for s in STOPWORDS[code]])
        hits = F.size(F.filter(w, lambda x: F.array_contains(arr, x)))
        scored.append(F.struct(hits.alias("h"), F.lit(-i).alias("ord"), F.lit(code).alias("code")))
    best = F.greatest(*scored)
    return df.withColumn(out_col, F.when(best["h"] > 0, best["code"]).otherwise(F.lit("und")))


def ref_curate_corpus(df: DataFrame, quality_threshold: float = 0.6,
                      langs: Sequence[str] = ("en",), min_tokens: int = 20,
                      id_col: str = "doc_id", text_col: str = "text",
                      lang_col: Optional[str] = None) -> DataFrame:
    if lang_col is None:
        df = ref_lang_id(df, text_col, out_col="_lang")
        lang = F.col("_lang")
    else:
        lang = F.col(lang_col)
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    ntok = F.array_size(F.split(F.col(text_col), " "))
    q = F.floor(ref_quality_score(text_col, round_decimals=None) * 10000) / 10000
    reason = (
        F.when(F.row_number().over(w) > 1, F.lit("duplicate"))
        .when(ntok < min_tokens, F.lit("too_short"))
        .when(q < quality_threshold, F.lit("low_quality"))
        .when(~lang.isin(*[str(x) for x in langs]), F.lit("wrong_lang"))
    )
    out = (df.withColumn("quality", q).withColumn("lang_used", lang)
           .withColumn("drop_reason", reason))
    return out.drop("_lang") if lang_col is None else out


def ref_hash_bucket(id_col: str, buckets: int) -> Column:
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(buckets)


def ref_split_assign(docs: DataFrame, id_col: str = "doc_id",
                     splits: Sequence[Tuple[str, float]] = (
                         ("train", 0.90), ("val", 0.05), ("test", 0.05)),
                     buckets: int = 1000, out_col: str = "split") -> DataFrame:
    b = ref_hash_bucket(id_col, buckets)
    expr = None
    cum = 0.0
    for name, frac in splits[:-1]:
        cum += frac
        cond = b < F.lit(int(round(cum * buckets)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    return docs.withColumn(out_col, F.lit(last) if expr is None else expr.otherwise(last))


def ref_with_packing(docs: DataFrame, by: Sequence[str] = (), id_col: str = "doc_id",
                     text_col: str = "text", budget: int = 2048,
                     n_buckets: int = 8) -> DataFrame:
    w = Window.partitionBy(*by, "bucket").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    start, n = F.col("start_offset"), F.col("n_tokens")
    seq = (start - start % budget) / budget
    end_seq = ((start + n - 1) - (start + n - 1) % budget) / budget
    return docs.withColumns({
        "bucket": ref_hash_bucket(id_col, n_buckets),
        "n_tokens": F.array_size(F.split(F.col(text_col), " ")).cast("long"),
    }).withColumn("start_offset", F.sum(n).over(w) - n).withColumns({
        "seq_id": seq.cast("long"),
        "crosses_cut": F.when(n > 0, (end_seq > seq).cast("int")).otherwise(0),
    })


def ref_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    w = F.split(F.col(text_col), " ")
    n_tokens = F.size(w)
    n_chars = F.octet_length(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    n_punct = n_chars - F.octet_length(F.regexp_replace(F.col(text_col), _PUNCT_RE, ""))
    n_upper = n_chars - F.octet_length(F.regexp_replace(F.col(text_col), r"[A-Z]", ""))
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_chars", n_chars.cast("long"))
        .withColumn("avg_word_len", F.round((n_chars - (n_tokens - 1)) / n_tokens, 4))
        .withColumn("punct_ratio", F.round(n_punct / n_chars, 4))
        .withColumn("stopword_ratio", F.round(n_stop / n_tokens, 4))
        .withColumn("upper_ratio", F.round(n_upper / n_chars, 4))
    )


def _ref_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")


def ref_unigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return (docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
            .where(F.col("token") != "").groupBy("token").agg(F.count(F.lit(1)).alias("n")))


def ref_doc_neg_logprob(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        alpha: float = 1.0) -> DataFrame:
    freq = ref_unigram_counts(docs, text_col)
    tot = freq.agg(F.sum("n").cast("double").alias("_N"),
                   F.count(F.lit(1)).cast("double").alias("_V"))
    nlp = -F.log((F.coalesce(F.col("n"), F.lit(0)) + F.lit(float(alpha)))
                 / (F.col("_N") + F.lit(float(alpha)) * F.col("_V")))
    return (_ref_tokens(docs, id_col, text_col).join(freq, "token", "left")
            .crossJoin(F.broadcast(tot)).groupBy(id_col).agg(F.avg(nlp).alias("nll")))


def _ref_bigram_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    n1 = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice(w, 1, n1).alias("w1"), F.slice(w, 2, n1).alias("w2"))
    return (docs.select(F.col(id_col), F.explode(pairs).alias("_bg"))
            .select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")))


def ref_bigram_counts(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    return (_ref_bigram_pairs(docs, id_col, text_col)
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n")))


def ref_doc_bigram_nll(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       alpha: float = 1.0) -> DataFrame:
    freq = ref_bigram_counts(docs, text_col, id_col)
    ctx = freq.groupBy("w1").agg(F.sum("n").cast("double").alias("_cw"))
    vocab = freq.agg(F.countDistinct("w2").cast("double").alias("_V"))
    nlp = -F.log((F.coalesce(F.col("n"), F.lit(0)) + F.lit(float(alpha)))
                 / (F.coalesce(F.col("_cw"), F.lit(0.0)) + F.lit(float(alpha)) * F.col("_V")))
    return (_ref_bigram_pairs(docs, id_col, text_col).join(freq, ["w1", "w2"], "left")
            .join(ctx, "w1", "left").crossJoin(F.broadcast(vocab))
            .groupBy(id_col).agg(F.avg(nlp).alias("nll2")))


def ref_bm25_scores(docs: DataFrame, query_terms: Sequence[str], id_col: str = "doc_id",
                    text_col: str = "text", k1: float = 1.2, b: float = 0.75) -> DataFrame:
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).cast("double").alias("dl"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col(text_col), " ")).cast("double")).alias("avgdl"),
    )
    tf = toks.where(F.col("token").isin(list(query_terms))).groupBy("id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    w = (idf * F.col("tf") * (k1 + 1.0)
         / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
    return (tf.join(F.broadcast(df_t), "token").crossJoin(F.broadcast(stats))
            .groupBy("id").agg(F.sum(w).alias("score")))


def ref_chunk_documents(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        chunk: int = 64, overlap: int = 16) -> DataFrame:
    step = chunk - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n.cast("double") - F.lit(float(overlap))) / F.lit(float(step))))
    base = docs.select(
        F.col(id_col), toks.alias("_toks"), n.cast("long").alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_idx") * step + 1, chunk)
    return base.select(
        id_col, "n_tokens", F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(piece).cast("int").alias("chunk_len"), F.array_join(piece, " ").alias("chunk_text"))


def ref_word_shingles(text_col: str = "text", n: int = 3) -> Column:
    words = F.split(F.col(text_col), " ")
    k = F.size(words) - (n - 1)
    return F.when(k > 0, F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)]),
    )).otherwise(F.array(F.col(text_col)))


def ref_simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  bits: int = 60) -> DataFrame:
    wh = (df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("w"))
          .withColumn("h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")))
    agg = wh.groupBy("id").agg(*[
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
        .alias(f"v{b}") for b in range(bits)])
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long")
        fp = term if fp is None else fp + term
    return agg.select("id", fp.alias("simhash"))


def ref_exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (df.withColumn("_h", F.md5(F.col(text_col)))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("dup_count", F.count("*").over(Window.partitionBy("_h")))
            .where(F.col("_rn") == 1).drop("_rn", "_h"))


def ref_incremental_new_docs(batch: DataFrame, history: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    seen = history.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (batch.withColumn("content_hash", F.md5(F.col(text_col)))
            .withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
            .join(seen, on="content_hash", how="left_anti"))


def ref_fingerprint(text_col: str = "text") -> Column:
    return F.md5(F.lower(F.trim(F.regexp_replace(F.col(text_col), r"[ \t\n\r\f]+", " "))))


def ref_normalize_text(df: DataFrame, text_col: str = "text", out_col: str = "norm_text",
                       lowercase: bool = True) -> DataFrame:
    c = nfc_normalize_udf()(F.col(text_col))
    if lowercase:
        c = F.lower(c)
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", "")
    return df.withColumn(out_col, F.trim(F.regexp_replace(c, r"[ \t\n\r\f]+", " ")))


def _ref_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _ref_cosine(a: Column, b: Column) -> Column:
    def norm(c):
        return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return _ref_dot(a, b) / (norm(a) * norm(b))


def ref_with_cosine(df: DataFrame, query_vec: Sequence[float], vec_col: str = "embedding",
                    out_col: str = "cosine", decimals: int = 6) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return df.withColumn(out_col, F.round(_ref_cosine(F.col(vec_col).cast("array<double>"), q),
                                          decimals))


def ref_ivf_topk_batch(indexed: DataFrame, cents: List, queries: DataFrame, k: int = 5,
                       nprobe: int = 2) -> DataFrame:
    cmat = np.asarray([c[1] for c in cents], dtype=np.float64)
    probe = _cells_udf(queries, cmat, nprobe)
    qv = F.col("query_vec").cast("array<double>")
    qcells = queries.select("query_id", qv.alias("_qv"), F.explode(probe(qv)).alias("cell"))
    scored = indexed.join(F.broadcast(qcells), "cell").withColumn("cosine", F.round(
        _ref_cosine(F.col("embedding").cast("array<double>"), F.col("_qv")), 6))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def ref_embedding_lsh_signatures(emb: DataFrame, dim: int, id_col: str = "vec_id",
                                 vec_col: str = "embedding", bands: int = 4,
                                 band_bits: int = 8) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    signs = plane_sign_matrix(bands * band_bits, dim)

    def bit(k: int) -> Column:
        proj = _ref_dot(v, F.array(*[F.lit(s) for s in signs[k]]))
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    band_structs = []
    for b in range(bands):
        key = None
        for j in range(band_bits):
            term = bit(b * band_bits + j) * F.lit(1 << j)
            key = term if key is None else key + term
        band_structs.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return (emb.where(F.size(v) == dim)
            .select(F.col(id_col).alias("id"), F.explode(F.array(*band_structs)).alias("bk"))
            .select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")))


def ref_banded_candidate_pairs(exploded: DataFrame, band_col: str = "band",
                              key_col: str = "key", carry: tuple = (),
                              max_bucket_size: Optional[int] = None) -> DataFrame:
    if max_bucket_size is not None:
        w = Window.partitionBy(band_col, key_col)
        exploded = (exploded.withColumn("_bn", F.count("*").over(w))
                    .where(F.col("_bn") <= max_bucket_size).drop("_bn"))
    a, b = exploded.alias("a"), exploded.alias("b")
    sel = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    for c in carry:
        sel += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    return (a.join(b, (F.col(f"a.{band_col}") == F.col(f"b.{band_col}"))
                   & (F.col(f"a.{key_col}") == F.col(f"b.{key_col}"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(*sel).distinct())


def ref_embedding_near_dups(emb: DataFrame, dim: int, threshold: float = 0.95,
                            bands: int = 4, band_bits: int = 8) -> DataFrame:
    sigs = ref_embedding_lsh_signatures(emb, dim, bands=bands, band_bits=band_bits)
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    return (
        ref_banded_candidate_pairs(sigs)
        .join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cosine", _ref_cosine(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ref_pii_counts(text_col: str = "text") -> Sequence[Column]:
    cols = []
    total = None
    for name, pat, _ in PII_PATTERNS:
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        cols.append(c.alias(f"n_{name}"))
        total = c if total is None else total + c
    return [*cols, total.alias("n_pii")]


def ref_redact_pii(text_col: str = "text") -> Column:
    out = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# -- streaming -------------------------------------------------------

def windowed_metrics(extracted: DataFrame, window: str = "1 hour",
                     watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window throughput/volume metrics."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("role"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.octet_length("main_text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role", "n_turns", "n_chars",
        )
    )


# -- instrumentation: query hooks (reference instrumentation.zig) --

@dataclass(frozen=True)
class QueryStats:
    elapsed_ns: int
    selector_len: int
    kind: str                   # one_runtime|one_cached|all_runtime|all_cached
    matched: Optional[bool] = None


def _resolve(selector: Union[str, Selector]):
    """(compiled, cached?) — compiling inside the timed region is the
    'runtime' kind, a precompiled selector the 'cached' kind."""
    if isinstance(selector, Selector):
        return selector, True
    return None, False


def query_one_with_hooks(
    dom: Dom,
    selector: Union[str, Selector],
    scope_root: Optional[int] = None,
    on_query_end: Optional[Callable[[QueryStats], None]] = None,
) -> Optional[int]:
    pre, cached = _resolve(selector)
    t0 = time.perf_counter_ns()
    sel = pre if cached else compile_selector(selector)
    idx = query_one(dom, sel, scope_root)
    if on_query_end is not None:
        on_query_end(QueryStats(
            elapsed_ns=max(time.perf_counter_ns() - t0, 0),
            selector_len=len(sel.source),
            kind="one_cached" if cached else "one_runtime",
            matched=idx is not None,
        ))
    return idx


def query_all_with_hooks(
    dom: Dom,
    selector: Union[str, Selector],
    scope_root: Optional[int] = None,
    on_query_end: Optional[Callable[[QueryStats], None]] = None,
) -> List[int]:
    pre, cached = _resolve(selector)
    t0 = time.perf_counter_ns()
    sel = pre if cached else compile_selector(selector)
    out = query_all(dom, sel, scope_root)
    if on_query_end is not None:
        on_query_end(QueryStats(
            elapsed_ns=max(time.perf_counter_ns() - t0, 0),
            selector_len=len(sel.source),
            kind="all_cached" if cached else "all_runtime",
            matched=True,
        ))
    return out


# -- extract: the three-pass reference form of ``extract_main`` ---------

def _ref_link_text_lengths(dom: Dom, root: int, removed: List[bool]) -> Tuple[List[int], List[int]]:
    n = len(dom.kind)
    text_len = [0] * n
    link_len = [0] * n
    lo, hi = root, dom.subtree_end[root]
    for idx in range(hi, lo, -1):
        if removed[idx]:
            continue
        if dom.kind[idx] == TEXT:
            seg = len(decode_entities(dom.text_bytes(idx)).strip(b" \t\n\r\x0c"))
            text_len[idx] += seg
        p = dom.parent[idx]
        if p != 0xFFFFFFFF and p >= lo:
            text_len[p] += text_len[idx]
            is_link = dom.kind[idx] == ELEMENT and dom.name_lower[idx] == b"a"
            link_len[p] += text_len[idx] if is_link else link_len[idx]
    return text_len, link_len


def ref_extract_main(source, remove_selector: Optional[Selector] = None) -> ExtractResult:
    """``extract_main`` as separate passes: a body search, the
    structural strip, a reverse link-length pass, a forward link-density
    strip and an emit loop (each surviving text node decoded twice)."""
    if remove_selector is None:
        remove_selector = _DEFAULT_REMOVE_COMPILED
    dom = parse(source)
    n = len(dom.kind)
    removed = [False] * n
    root = 0
    for idx in range(1, n):
        if dom.kind[idx] == ELEMENT and dom.name_lower[idx] == b"body":
            root = idx
            break
    n_removed = 0
    for idx in iter_query(dom, remove_selector, None if root == 0 else root):
        if not removed[idx]:
            n_removed += 1
        for j in range(idx, dom.subtree_end[idx] + 1):
            removed[j] = True
    text_len, link_len = _ref_link_text_lengths(dom, root, removed)
    hi = dom.subtree_end[root]
    idx = root + 1
    while idx <= hi:
        if (
            not removed[idx]
            and dom.kind[idx] == ELEMENT
            and dom.name_lower[idx] in _BLOCK_TAGS
            and text_len[idx] > 0
            and link_len[idx] / text_len[idx] > LINK_DENSITY_THRESHOLD
        ):
            n_removed += 1
            for j in range(idx, dom.subtree_end[idx] + 1):
                removed[j] = True
            idx = dom.subtree_end[idx] + 1
            continue
        idx += 1
    spans: List[Tuple[int, int]] = []
    segs: List[bytes] = []
    for idx in range(root + 1, dom.subtree_end[root] + 1):
        if dom.kind[idx] == TEXT and not removed[idx]:
            spans.append((dom.start[idx], dom.end[idx]))
            segs.append(decode_entities(dom.text_bytes(idx)))
    main_text = normalize_ws(b"".join(segs)).decode("utf-8", errors="replace")
    return ExtractResult(main_text=main_text, spans=spans, n_nodes=n, n_removed=n_removed)
