"""Corpus curation: the composed filter pipeline a training-data run
executes between raw extraction and tokenization.

Stage order is fixed so drop accounting is deterministic — a document
gets the FIRST reason that disqualifies it:

1. ``duplicate``   — exact-dup (md5 of text; lowest id is canonical)
2. ``too_short``   — token floor
3. ``low_quality`` — :func:`quality_score` gate (floor-quantized so the
                     comparison is engine-portable)
4. ``wrong_lang``  — language allowlist (a metadata column, or the
                     stopword heuristic when none exists)

All stages are JVM-side column expressions; the only shuffle is the
dedup window on the 16-byte md5 key (AQE handles skew — identical
boilerplate documents land in one partition only per hash value, and
the window computes rank only).  At 10^12 rows this is one hash
shuffle, same plan shape as exact_dedup.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import lang_id, quality_score


def curate_corpus(
    df: DataFrame,
    quality_threshold: float = 0.6,
    langs: Sequence[str] = ("en",),
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: Optional[str] = None,
) -> DataFrame:
    """df + ``quality`` + ``lang_used`` + ``drop_reason`` (null = kept).

    ``langs`` must be non-empty.  A NULL value in ``lang_col`` makes the
    ``isin`` test NULL, so the row classifies as KEPT rather than
    ``wrong_lang`` (matching the DuckDB oracle's SQL three-valued
    logic); callers passing a nullable metadata column who want NULL to
    drop should ``coalesce(lang, '')`` before calling.
    """
    if not langs:
        raise ValueError("curate_corpus: langs must be a non-empty sequence")
    if lang_col is None:
        df = lang_id(df, text_col, out_col="_lang")
        lang = F.col("_lang")
    else:
        lang = F.col(lang_col)
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    ntok = F.size(F.split(F.col(text_col), " "))
    q = F.floor(quality_score(text_col, round_decimals=None) * 10000) / 10000
    reason = (
        F.when(F.row_number().over(w) > 1, F.lit("duplicate"))
        .when(ntok < min_tokens, F.lit("too_short"))
        .when(q < quality_threshold, F.lit("low_quality"))
        .when(~lang.isin(*[str(x) for x in langs]), F.lit("wrong_lang"))
    )
    out = (
        df.withColumn("quality", q)
        .withColumn("lang_used", lang)
        .withColumn("drop_reason", reason)
    )
    return out.drop("_lang") if lang_col is None else out


def curation_stats(curated: DataFrame, *by: str) -> DataFrame:
    """Per-reason accounting (reason, *by, n_docs), kept rows as 'kept';
    unordered, since a sort adds a range-sampling job to every use."""
    return (
        curated.groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason"), *by)
        .agg(F.count("*").alias("n_docs"))
    )


def _quantile_col_name(prob: float) -> str:
    """Single source of truth for the ``q_<prob>`` alias scheme used
    by :func:`stratum_quantiles` and its consumers."""
    return f"q_{str(float(prob)).replace('.', '_')}"


def stratum_quantiles(
    docs: DataFrame,
    value_col: str,
    strata_col: str = "lang",
    probs: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-stratum quantiles of ``value_col`` (linear
    interpolation — Spark ``percentile`` and DuckDB ``quantile_cont``
    agree bit-for-bit on the same doubles): one row per stratum with
    ``q_<prob>`` columns.

    Scale note: EXACT percentile sorts each group's values — right
    for per-stratum curation thresholds over bounded strata counts.
    For quantiles OF a 10^12-row column without grouping, switch the
    expression to ``percentile_approx`` (t-digest, mergeable partial
    aggregation) and accept the documented approximation."""
    arr = "array(" + ", ".join(repr(float(p)) for p in probs) + ")"
    q = F.expr(f"percentile({value_col}, {arr})")
    cols = [
        q.getItem(i).alias(_quantile_col_name(p))
        for i, p in enumerate(probs)
    ]
    return docs.groupBy(strata_col).agg(*cols)


def percentile_floor_filter(
    docs: DataFrame,
    value_col: str,
    strata_col: str = "lang",
    prob: float = 0.25,
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """Adaptive per-stratum floor (the Gopher-style 'drop the worst
    quartile PER LANGUAGE' curation rule, instead of one global
    threshold that over-prunes low-resource strata): keep documents
    with ``value_col`` >= their stratum's ``prob``-quantile.  Adds
    the threshold as ``q_floor``.

    Pass ``thresholds`` (an already-computed :func:`stratum_quantiles`
    frame containing the ``prob`` column) to reuse an existing
    aggregation instead of re-sorting the corpus.  One percentile
    aggregation (or zero, with ``thresholds``) + one broadcast join
    back — thresholds are one row per stratum; the corpus itself
    never shuffles."""
    th = (stratum_quantiles(docs, value_col, strata_col, (prob,))
          if thresholds is None else thresholds)
    floor_col = _quantile_col_name(prob)
    th = th.select(strata_col, F.col(floor_col).alias("q_floor"))
    return (
        docs.join(F.broadcast(th), strata_col)
        .where(F.col(value_col) >= F.col("q_floor"))
    )
