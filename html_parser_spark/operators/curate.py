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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sql import ident
from .dedup import copy_rank_sql
from .textstats import lang_id, quality_score_sql, token_count_sql

# The drop reasons in rule order: a document gets the first that holds.
DROP_REASONS = ("duplicate", "too_short", "low_quality", "wrong_lang")


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
    allow-list test NULL, so the row classifies as KEPT rather than
    ``wrong_lang`` (matching the DuckDB oracle's SQL three-valued
    logic); callers passing a nullable metadata column who want NULL to
    drop should ``coalesce(lang, '')`` before calling.
    """
    if not langs:
        raise ValueError("curate_corpus: langs must be a non-empty sequence")
    if lang_col is None:
        df = lang_id(df, text_col, out_col="_lang")
    lang = ident(lang_col or "_lang")
    rules = (  # one per DROP_REASONS entry, in its order
        f"{copy_rank_sql(text_col, id_col)} > 1",
        f"{token_count_sql(text_col)} < {int(min_tokens)}",
        f"quality < {float(quality_threshold)!r}D",
        "NOT _allowed",
    )
    out = df.withColumns({
        "quality": F.expr(f"floor({quality_score_sql(text_col, None)} * 10000) / 10000"),
        "lang_used": F.expr(lang),
        # caller-supplied codes go in as literals, never as SQL text
        "_allowed": F.array_contains(F.array(*[F.lit(str(x)) for x in langs]), F.expr(lang)),
    }).withColumn("drop_reason", F.expr("CASE{} END".format("".join(
        f" WHEN {rule} THEN '{reason}'" for reason, rule in zip(DROP_REASONS, rules)))))
    return out.drop("_allowed", *(["_lang"] if lang_col is None else []))


def curation_stats(curated: DataFrame) -> DataFrame:
    """Per-reason accounting (reason, n_docs), kept rows as 'kept';
    unordered, since a sort adds a range-sampling job to every use."""
    return curated.groupBy(F.expr("coalesce(drop_reason, 'kept') AS reason")).agg(
        F.expr("count(1) AS n_docs"))


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
