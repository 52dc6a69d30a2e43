"""Lexical retrieval: BM25 scoring and top-k search.

Beyond-the-reference training/retrieval operator (same family as
operators/similarity.py): the lexical half of hybrid retrieval.  A
production data pipeline uses BM25 both as a search baseline next to
embedding ANN and for data curation (query-focused corpus slicing,
eval-set mining).  Formula is the Lucene/Okapi variant:

    idf(t)   = ln((N - df + 0.5) / (df + 0.5) + 1)
    score(d) = sum over query terms t of
               idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b*dl/avgdl))

with tf = term frequency in d, dl = |d| in whitespace tokens, and
N / avgdl measured on the corpus.

Scale shape: the query-term filter lands BEFORE the tf aggregation,
so only the postings of the handful of query terms ever shuffle — the
rest of the corpus contributes via two scalar aggregates (N, avgdl)
and the per-term document frequencies, all map-side partial.  Doc
length is computed in the scan projection (no shuffle).  The final
top-k is a TakeOrderedAndProject, never a global sort.  Nothing here
is per-row Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sql import ident
from .textstats import token_count_sql, words_sql


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 score of every document that matches at least one query
    term: ``(id, score)``.  Non-matching documents are absent (their
    score is 0 by definition)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # the query terms are caller-supplied values: literals, not SQL text
    terms = F.array(*[F.lit(str(t)) for t in query_terms])

    dl = f"CAST({token_count_sql(text_col)} AS DOUBLE)"
    toks = docs.selectExpr(f"{ident(id_col)} AS id", f"{dl} AS dl",
                           f"explode({words_sql(text_col)}) AS token")
    # corpus stats: N docs, average doc length — two scalar aggregates
    stats = docs.selectExpr("CAST(count(1) AS DOUBLE) AS n_docs", f"avg({dl}) AS avgdl")
    # only query-term postings survive past this map-side filter
    hits = toks.where(F.array_contains(terms, F.expr("token")))
    tf = hits.groupBy("id", "token").agg(
        F.expr("CAST(count(1) AS DOUBLE) AS tf"), F.expr("first(dl) AS dl"))
    df_t = tf.groupBy("token").agg(F.expr("CAST(count(1) AS DOUBLE) AS df"))
    # double literals; (k1 + 1) and (1 - b) are folded in Python, so the
    # weights keep the bits of the Column-arithmetic form
    k1_1, k1_d, one_b, b_d = (f"{float(x)!r}D" for x in (k1 + 1.0, k1, 1.0 - b, b))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", F.expr("ln((n_docs - df + 0.5D) / (df + 0.5D) + 1.0D)"))
        .withColumn("w", F.expr(
            f"idf * tf * {k1_1} / (tf + {k1_d} * ({one_b} + {b_d} * dl / avgdl))"))
    )
    return scored.groupBy("id").agg(F.expr("sum(w) AS score"))


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    quantize: int | None = 4,
) -> DataFrame:
    """Top-``k`` documents by BM25: ``(id, score)`` ordered by
    (score desc, id).  ``quantize`` floors the score to that many
    decimals BEFORE ranking so ties (and the ordering itself) are
    engine-portable — float sums agree across engines far below 1e-4,
    so the quantized rank is deterministic."""
    s = bm25_scores(docs, query_terms, id_col, text_col, k1, b)
    if quantize is not None:
        q = 10 ** int(quantize)
        s = s.withColumn("score", F.expr(f"floor(score * {q}) / {q}"))
    return s.orderBy(F.desc("score"), F.asc("id")).limit(k)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "id",
    score_a: str = "score",
    score_b: str = "cosine",
    k: int = 60,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked result lists (the standard
    hybrid-retrieval combiner for BM25 + embedding ANN):

        rrf(d) = sum over lists L containing d of 1 / (k + rank_L(d))

    with rank 1-based by (score desc, id asc) within each list and
    the conventional k=60.  A document missing from one list simply
    contributes nothing for it — no imputation.  Returns
    ``(id, rrf, rank_a, rank_b)`` with NULL ranks for one-sided hits,
    ordered by (rrf desc, id), limited to ``topn``.

    Scale shape: candidate lists are top-k outputs (tiny next to the
    corpus), so ranking is a window over at most k rows per list and
    the fusion is a full outer join of two k-row frames; the whole
    fusion is driver-scale work expressed declaratively — it composes
    with ``bm25_topk`` / ``ann_cosine_topk`` without collecting.
    """
    from pyspark.sql import Window

    wa = Window.orderBy(F.col(score_a).desc(), F.col(id_col).asc())
    wb = Window.orderBy(F.col(score_b).desc(), F.col(id_col).asc())
    a = ranked_a.select(id_col, score_a).withColumn(
        "rank_a", F.row_number().over(wa)).drop(score_a)
    b = ranked_b.select(id_col, score_b).withColumn(
        "rank_b", F.row_number().over(wb)).drop(score_b)
    fused = (
        a.join(b, id_col, "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0)),
        )
    )
    return (
        fused.select(id_col, "rrf", "rank_a", "rank_b")
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(topn)
    )
