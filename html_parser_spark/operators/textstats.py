"""Text-analysis operators: token counting, quality scoring, language
ID, document fingerprinting.

Everything but NFC is a pure JVM-side column expression (whole-stage
codegen, no Python); language-ID is a stopword-hit heuristic.  The
token, quality and language rules are Spark SQL text (``*_sql``).
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sql import ident

# Deterministic, pinned stopword profiles for the n-gram/stopword
# language heuristic (tiny on purpose — this is a heuristic operator,
# not a model).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
}

_PUNCT_RE = r"[^A-Za-z0-9 ]"


def words_sql(text_col: str) -> str:
    """``text_col`` split on single spaces (empty words kept)."""
    return f"split({ident(text_col)}, ' ')"


def _tokens_sql(text_col: str) -> str:
    """The non-empty words of ``text_col``."""
    return f"filter({words_sql(text_col)}, x -> x != '')"


def token_count_sql(text_col: str) -> str:
    """Whitespace token count; NULL for a NULL text under both ANSI
    settings (``size`` would give -1 with ANSI off)."""
    return f"array_size({words_sql(text_col)})"


def _hits_sql(text_col: str, code: str) -> str:
    """Number of ``text_col``'s words in ``STOPWORDS[code]``."""
    stop = ", ".join(f"'{s}'" for s in STOPWORDS[code])
    return f"size(filter({words_sql(text_col)}, x -> array_contains(array({stop}), x)))"


def _stopword_ratio_sql(text_col: str) -> str:
    return f"{_hits_sql(text_col, 'en')} / {token_count_sql(text_col)}"


def _byte_ratio_sql(text_col: str, pattern: str) -> str:
    """Share of ``text_col``'s bytes in characters matching ``pattern``
    (which holds no quote or backslash); NULL for an empty text."""
    n = f"nullif(octet_length({ident(text_col)}), 0)"
    return f"({n} - octet_length(regexp_replace({ident(text_col)}, '{pattern}', ''))) / {n}"


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count (BPE-ish subword estimate available via
    ``subword_estimate``)."""
    return F.expr(token_count_sql(text_col))


def subword_estimate(text_col: str = "text", chars_per_token: float = 4.0) -> Column:
    """Cheap BPE-ish token estimate: ceil(octet_length / 4)."""
    return F.ceil(F.octet_length(F.col(text_col)) / F.lit(chars_per_token)).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features per row.

    n_tokens, n_chars, avg_word_len, punct_ratio, stopword_ratio (en),
    upper_ratio — the standard cheap quality gates of a pretraining
    pipeline, rounded for engine-portable comparison.  A NULL text has
    NULL features; an empty one NULL byte ratios.
    """
    t, n_tokens = ident(text_col), token_count_sql(text_col)
    return df.withColumns({name: F.expr(sql) for name, sql in (
        ("n_tokens", f"CAST({n_tokens} AS BIGINT)"),
        ("n_chars", f"CAST(octet_length({t}) AS BIGINT)"),
        ("avg_word_len", f"round((octet_length({t}) - ({n_tokens} - 1)) / {n_tokens}, 4)"),
        ("punct_ratio", f"round({_byte_ratio_sql(text_col, _PUNCT_RE)}, 4)"),
        ("stopword_ratio", f"round({_stopword_ratio_sql(text_col)}, 4)"),
        ("upper_ratio", f"round({_byte_ratio_sql(text_col, '[A-Z]')}, 4)"),
    )})


def quality_score_sql(text_col: str, round_decimals: int | None) -> str:
    """SQL text of :func:`quality_score`."""
    # an empty text has no punctuation ratio: NULL, which ``least`` skips
    n_tokens = token_count_sql(text_col)
    raw = (f"(0.5D * least({n_tokens} / 64.0D, 1.0D)"
           f" + 0.3D * least({_stopword_ratio_sql(text_col)} * 4, 1.0D)"
           f" + 0.2D * (1.0D - least({_byte_ratio_sql(text_col, _PUNCT_RE)} * 5, 1.0D)))")
    return raw if round_decimals is None else f"round({raw}, {int(round_decimals)})"


def quality_score(text_col: str = "text", round_decimals: int | None = 4) -> Column:
    """Single deterministic 0..1 quality score used as a filter gate.
    ``round_decimals=None`` returns the raw double (callers needing
    engine-portable comparison should floor-quantize instead: decimal
    half-way rounding differs between engines)."""
    return F.expr(quality_score_sql(text_col, round_decimals))


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-profile language guess (deterministic; ties break by
    language-code order).  A heuristic operator, pinned by unit tests.
    """
    # struct ordering compares fields left-to-right: (hits, -position)
    # makes greatest() pick the highest hit count, breaking ties toward
    # the alphabetically-first language code.
    best = "greatest({})".format(", ".join(
        f"struct({_hits_sql(text_col, code)} AS h, {-i} AS ord, '{code}' AS code)"
        for i, code in enumerate(sorted(STOPWORDS))))
    return df.withColumn(out_col, F.expr(f"CASE WHEN {best}.h > 0 THEN {best}.code ELSE 'und' END"))


def language_mix(df: DataFrame, html_col: str = "html",
                 doc_col: str = "doc_id",
                 selector: str | None = None) -> DataFrame:
    """Per-document language profile from PER-BLOCK language-id — the
    multilingual-corpus segmentation pass: a page that mixes an
    English article with a German comment thread is not "English", it
    is 60/40, and routing/quota decisions need the mix.

    Blocks come from the boilerplate module's outermost-block walk
    (one kernel parse per doc, map-only); each block gets the pinned
    stopword lang-id; the per-doc rollup returns ``(doc, n_blocks,
    n_langs, lang_dominant, n_dominant)`` with ties broken toward the
    lexicographically smallest code (deterministic across engines —
    min over struct(-count, lang)).

    Scale shape: one Arrow pass + one (doc, lang) hash aggregation +
    one doc aggregation — both key on high-cardinality columns; no
    joins, nothing collects.
    """
    from .boilerplate import BLOCK_SELECTOR, text_blocks_udf

    sel = selector if selector is not None else BLOCK_SELECTOR
    blocks = (df.select(doc_col,
                        F.explode(text_blocks_udf(sel)(F.col(html_col)))
                        .alias("b"))
              .select(doc_col, F.col("b.text").alias("_bt")))
    tagged = lang_id(blocks, "_bt", out_col="_lang")
    per = tagged.groupBy(doc_col, "_lang").agg(
        F.count(F.lit(1)).alias("_cnt"))
    return (per.groupBy(doc_col).agg(
        F.sum("_cnt").cast("long").alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.min(F.struct((-F.col("_cnt")).alias("neg"),
                       F.col("_lang").alias("lang"))).alias("_top"))
        .select(doc_col, "n_blocks", "n_langs",
                F.col("_top.lang").alias("lang_dominant"),
                (-F.col("_top.neg")).cast("long").alias("n_dominant")))


def _collapse_ws(c: Column) -> Column:
    """``c`` with each run of ASCII whitespace as one space, trimmed."""
    return F.trim(F.regexp_replace(c, F.lit(r"[ \t\n\r\f]+"), F.lit(" ")))


def fingerprint(text_col: str = "text") -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the cheap, engine-portable canonical-content hash."""
    return F.md5(F.lower(_collapse_ws(F.col(text_col))))


def nfc_normalize_udf():
    """Unicode NFC composition — Spark has no built-in normalizer, so
    this is the one Python step in the normalization chain
    (Arrow-batched; DuckDB's ``nfc_normalize`` reproduces it exactly,
    which is what the driver oracle checks)."""

    @F.pandas_udf("string")
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(
                lambda v: unicodedata.normalize("NFC", v) if v is not None else None
            )
    return udf


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    lowercase: bool = True,
) -> DataFrame:
    """Training-corpus text normalization: NFC composition →
    lowercase → control-char strip → whitespace collapse + trim.
    Everything but the NFC step is JVM-side codegen."""
    c = nfc_normalize_udf()(F.col(text_col))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out_col, _collapse_ws(F.regexp_replace(c, r"[\x00-\x1f\x7f]", "")))


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level n-gram document frequency, top-k.

    Distinct word n-grams per document (shared shingle definition with
    the MinHash pipeline) → explode → count = document frequency →
    top-k with (count desc, ngram asc) tie-break.  Partial aggregation
    map-side; the final top-k is a TakeOrdered — no full sort, scales
    to any corpus size."""
    from .dedup import word_shingles

    grams = df.select(
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("ngram").asc())
        .limit(k)
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals per document: (id, n_lines,
    dup_line_frac, top_ngram_share).

    * ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line (1 - distinct/total), the classic boilerplate /
      degenerate-generation signal; pure array expressions.
    * ``top_ngram_share`` — share of the document's word n-grams taken
      by its single most frequent n-gram (counted with multiplicity);
      high values flag loops/templates.  Explode → two partial-agg
      shuffles keyed (id, gram) then id — linear at any corpus size,
      no skew (keys carry the doc id).

    Ratios are floor-quantized to 4 decimals (engine-portable — see
    quality_score on why floor, not round).
    """
    from .dedup import word_shingles

    lines = F.split(F.col(text_col), "\n")
    dup_frac = F.floor(
        (F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines)) * 10000
    ) / 10000
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        dup_frac.alias("dup_line_frac"),
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, ngram_n)).alias("g"),
    )
    per_gram = grams.groupBy("id", "g").agg(F.count("*").alias("c"))
    share = (
        per_gram.groupBy("id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .select("id", (F.floor(F.col("mx") / F.col("tot") * 10000) / 10000).alias("top_ngram_share"))
    )
    return base.join(share, "id")


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    ngram_n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document,
    count the distinct word ``ngram_n``-grams it shares with ANY
    benchmark document — the standard train/test decontamination sweep
    of a pretraining pipeline.  Returns (id, n_hits, contaminated).

    Scale shape: the benchmark side collapses to a distinct n-gram set
    and is always broadcast (eval sets are tiny next to a training
    corpus), so the check is a map-side hash semi-join on the exploded
    corpus: no corpus shuffle except the per-doc hit count, which keys
    on the doc id.
    """
    from .dedup import word_shingles

    c = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(text_col, ngram_n))).alias("g"),
    )
    b = benchmark.select(
        F.explode(F.array_distinct(word_shingles(text_col, ngram_n))).alias("g")
    ).distinct()
    hits = c.join(F.broadcast(b), "g").groupBy("id").agg(F.count_distinct("g").alias("n_hits"))
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def unigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram model: whitespace-token frequencies
    ``(token, n)``.  One explode + one hash aggregation on the token
    key; partial (map-side) aggregation absorbs the stopword skew
    before the shuffle."""
    toks = docs.select(F.expr(f"explode({_tokens_sql(text_col)}) AS token"))
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))


def _bigram_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) for every adjacent whitespace-token pair — built
    JVM-side (filter + two slices + arrays_zip + explode), no join and
    no Python.  Docs with < 2 tokens contribute nothing."""
    w = F.expr(_tokens_sql(text_col))
    n1 = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice(w, 1, n1).alias("w1"),
                         F.slice(w, 2, n1).alias("w2"))
    return (docs.select(F.col(id_col), F.explode(pairs).alias("_bg"))
            .select(id_col, F.col("_bg.w1").alias("w1"),
                    F.col("_bg.w2").alias("w2")))


def bigram_counts(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Corpus bigram model: adjacent-pair frequencies ``(w1, w2, n)``.
    Same shuffle shape as :func:`unigram_counts` — one explode + one
    hash aggregation, partial map-side combine absorbing the
    stopword-pair skew."""
    return (_bigram_pairs(docs, id_col, text_col)
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n")))


def doc_bigram_nll(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    model: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean negative log-probability of each adjacent
    token pair under an add-alpha smoothed corpus bigram model — the
    order-sensitive sibling of :func:`doc_neg_logprob`: shuffled or
    templated text that unigram frequency cannot distinguish scores
    high here because its local transitions are rare.

    ``nll2(d) = avg over adjacent pairs (w1, w2) in d of
                -ln((c(w1,w2) + alpha) / (ctx(w1) + alpha * V))``

    with ``c`` the corpus pair count, ``ctx(w1) = sum_w c(w1, w)``
    (occurrences of w1 as a left context), and ``V`` the distinct
    right-token vocabulary — all measured on the model corpus (pass
    ``model`` = a precomputed :func:`bigram_counts` frame to score one
    corpus against another; unseen pairs/contexts take the smoothed
    floor via left joins).  Documents with < 2 tokens produce no row.

    Scale shape mirrors the unigram scorer: the model has one row per
    distinct PAIR, contexts one row per distinct token, so both
    scoring joins hash hot probe keys against single build rows; the
    scalar V rides a broadcast 1-row frame; nothing collects.
    """
    freq = bigram_counts(docs, text_col, id_col) if model is None else model
    ctx = freq.groupBy("w1").agg(F.sum("n").cast("double").alias("_cw"))
    vocab = freq.agg(
        F.countDistinct("w2").cast("double").alias("_V"))
    pairs = _bigram_pairs(docs, id_col, text_col)
    nlp = -F.log(
        (F.coalesce(F.col("n"), F.lit(0)) + F.lit(float(alpha)))
        / (F.coalesce(F.col("_cw"), F.lit(0.0))
           + F.lit(float(alpha)) * F.col("_V"))
    )
    return (
        pairs.join(freq, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(F.avg(nlp).alias("nll2"))
    )


def doc_neg_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    model: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean negative log-probability under an add-alpha
    smoothed corpus unigram model — the codec-free stand-in for the
    CCNet/Gopher LM-perplexity quality filter: common-language
    documents score low, rare-token / garbled documents score high.

    ``nll(d) = avg over token instances t in d of
               -ln((count(t) + alpha) / (N + alpha * V))``

    where N = total token instances and V = vocabulary size, both
    measured on the model corpus.  Pass ``model`` (a precomputed
    ``unigram_counts`` frame) to score one corpus against another
    (e.g. score a crawl against a trusted reference corpus, exactly
    the CCNet setup); default scores ``docs`` against itself.
    Documents with zero tokens produce no row (no probability mass to
    average).

    Scale shape: token frequencies aggregate map-side first, so hot
    stopwords arrive pre-combined; the scoring join keys on the token
    — the model side has ONE row per token, so hot probe keys hash
    against a single build row and AQE's skew split handles the rest;
    AQE broadcasts the model side when it is under the broadcast
    threshold.  The two scalar totals ride along via a broadcast 1-row
    cross join — nothing collects to the driver.
    """
    freq = unigram_counts(docs, text_col) if model is None else model
    tot = freq.agg(
        F.sum("n").cast("double").alias("_N"),
        F.count(F.lit(1)).cast("double").alias("_V"),
    )
    toks = docs.select(F.col(id_col), F.expr(f"explode({_tokens_sql(text_col)}) AS token"))
    # LEFT join: a token absent from the model vocabulary (possible
    # when scoring one corpus against another) gets the smoothed floor
    # probability alpha/(N + alpha*V) instead of being silently
    # dropped from the average.
    nlp = -F.log(
        (F.coalesce(F.col("n"), F.lit(0)) + F.lit(float(alpha)))
        / (F.col("_N") + F.lit(float(alpha)) * F.col("_V"))
    )
    return (
        toks.join(freq, "token", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(F.avg(nlp).alias("nll"))
    )
