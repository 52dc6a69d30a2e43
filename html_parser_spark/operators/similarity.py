"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k against one query vector.
  JVM-side only: dot products via zip_with/aggregate inside codegen,
  one narrow pass + a small top-k sort.  The correctness baseline.
* ``ivf_topk`` — IVF-style scale path: deterministic coarse centroids
  (first C vectors by id), vectors assigned to nearest centroid at
  build time; queries probe only ``nprobe`` nearest cells.  At 10^9+
  vectors this turns a full scan into a partition-pruned fraction
  (cells are a partition column of the index table).
* ``ivf_topk_batch`` — the same IVF search for a whole query TABLE:
  probe cells per query via the broadcast-GEMM UDF, broadcast the
  exploded (query, cell) side into an equi-join on cell, per-query
  top-k via a rank-limit window (WindowGroupLimit partial top-k).
"""

from __future__ import annotations

import math
from typing import Iterator, List, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sql import ident


def double_array_sql(xs: Sequence[float]) -> str:
    """``xs`` as an ``array<double>`` of literals (a non-finite value by
    cast: SQL has no literal for it)."""
    return "array({})".format(", ".join(
        f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)" for x in map(float, xs)))


def dot_sql(a: str, b: str) -> str:
    """Dot product of two ``array<double>`` expressions, summed left to
    right from 0.0; a NULL element, or a length mismatch, gives NULL."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def cosine_sql(a: str, b: str) -> str:
    """Cosine similarity of two ``array<double>`` expressions; NULL when
    either has norm 0 (``try_divide``: a plain ``/`` fails the query
    under ANSI mode)."""
    return f"try_divide({dot_sql(a, b)}, sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


def with_cosine(df: DataFrame, query_vec: Sequence[float], vec_col: str = "embedding",
                out_col: str = "cosine", decimals: int = 6) -> DataFrame:
    v = f"CAST({ident(vec_col)} AS ARRAY<DOUBLE>)"
    return df.withColumn(out_col, F.expr(
        f"round({cosine_sql(v, double_array_sql(query_vec))}, {int(decimals)})"))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int | None = None,
) -> DataFrame:
    """Exact brute-force top-k by cosine (ties break on id asc).
    ``quantize`` rounds the cosine to that many decimals BEFORE
    ranking, making the selected set and tie-breaks engine-portable
    (two scores agreeing at the quantized precision resolve by id on
    every engine, instead of by sub-rounding float noise)."""
    scored = with_cosine(df, query_vec, vec_col)
    if quantize is not None:
        scored = scored.withColumn("cosine", F.round("cosine", quantize))
    return (
        scored.select(F.col(id_col), F.col("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _rank_cells(vm: "np.ndarray", cmat: "np.ndarray") -> "np.ndarray":
    """Cell indexes for each row of ``vm``, nearest first: round(cosine,
    9) descending, a NaN score (zero-norm vector or centroid) last, ties
    to the lower cell index.  The one ranking rule of assignment and
    probing; the DuckDB twins rank by the same (round-9 cosine, index)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = (vm @ cmat.T) / np.outer(np.linalg.norm(vm, axis=1),
                                           np.linalg.norm(cmat, axis=1))
    # numpy sorts NaN last; the stable sort keeps ties in cell order
    return np.argsort(-np.round(scores, 9), axis=1, kind="stable")


def _cells_udf(df: DataFrame, cmat: "np.ndarray", n: int):
    """Arrow-batched ``_rank_cells`` over a broadcast centroid matrix:
    each vector's ``n`` nearest cells, from one (batch × cells) GEMM per
    batch, with O(1) Catalyst expression size."""
    bc = df.sparkSession.sparkContext.broadcast(cmat)

    @F.pandas_udf("array<int>")
    def cells(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            vm = np.stack([np.asarray(x, dtype=np.float64) for x in s])
            yield pd.Series(_rank_cells(vm, bc.value)[:, :n].tolist())

    return cells


def build_ivf_index(
    df: DataFrame,
    num_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, List]:
    """Assign each vector to its nearest deterministic coarse centroid.

    Centroids are the ``num_cells`` vectors with the smallest ids —
    deterministic, RNG-free, and reproducible by the DuckDB oracle; an
    empty input raises ``ValueError``.  Returns (df + ``cell`` column,
    [(id, vector)] of the centroids in cell order); write partitioned
    by ``cell`` for pruning.

    A vector's cell is the first of its ``_rank_cells`` ranking, from a
    map-only Arrow-batched UDF over a broadcast centroid matrix: one
    numpy matmul per batch, no shuffle, and no per-centroid Catalyst
    expression — expression size is O(1) in ``num_cells``, so 4k–64k
    cells (a 10^9-vector corpus) cost one (batch × cells) GEMM instead
    of a 64k-deep ``greatest`` nest.
    """
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(num_cells).collect()
    ]
    if not cents:
        raise ValueError("build_ivf_index: input DataFrame is empty")
    cmat = np.asarray([c[1] for c in cents], dtype=np.float64)
    assign = _cells_udf(df, cmat, 1)(F.col(vec_col).cast("array<double>"))[0]
    # The UDF never returns null; the coalesce tells Catalyst so.  With a
    # nullable ``cell``, a join on it infers ``cell IS NOT NULL``, and
    # that filter, pushed under this projection, evaluates the UDF twice.
    return df.withColumn("cell", F.coalesce(assign, F.lit(-1))), cents


def ivf_topk_batch(
    indexed: DataFrame,
    cents: List,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched IVF search: a whole TABLE of query vectors at once — the
    production shape for eval-set contamination sweeps and near-dup
    lookups, where queries arrive by the million, not one at a time.

    Plan (no driver-side loop over queries anywhere):

    1. each query picks its ``nprobe`` nearest cells via the broadcast-
       GEMM probe UDF (map-only over the query table);
    2. explode to (query, cell) and **broadcast** that small side into
       an equi-join on ``cell`` against the indexed corpus — the big
       side never shuffles, and only the probed fraction of the corpus
       is scored (with a cell-partitioned index table the non-probed
       cells are partition-pruned away entirely);
    3. per-query exact top-k: ``row_number()`` over (query_id, cosine
       desc, id asc) filtered to ``<= k`` — Spark's rank-limit pushdown
       (WindowGroupLimit) turns this into per-partition partial top-k
       before the shuffle, so the exchange carries at most
       ``k × queries`` rows per partition, not every scored candidate.

    Cosine is rounded to 6 before ranking (``with_cosine`` semantics);
    ties break on ascending ``id_col``.  Returns one row per
    (query_id, rank ≤ k): query_id, vec_id, cosine, rank.
    """
    from pyspark.sql.window import Window

    cmat = np.asarray([c[1] for c in cents], dtype=np.float64)
    probe = _cells_udf(queries, cmat, nprobe)
    qv = F.col(query_vec_col).cast("array<double>")
    qcells = queries.select(
        F.col(query_id_col),
        qv.alias("_qv"),
        F.explode(probe(qv)).alias("cell"),
    )
    joined = indexed.join(F.broadcast(qcells), "cell")
    v = f"CAST({ident(vec_col)} AS ARRAY<DOUBLE>)"
    scored = joined.withColumn("cosine", F.expr(f"round({cosine_sql(v, '_qv')}, 6)"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_topk(
    indexed: DataFrame,
    cents: List,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells only (``_rank_cells``, on the
    driver), then exact top-k inside."""
    q = [float(x) for x in query_vec]
    cmat = np.asarray([c[1] for c in cents], dtype=np.float64)
    probe = _rank_cells(np.asarray([q]), cmat)[0, :nprobe].tolist()
    pruned = indexed.where(F.col("cell").isin(probe))
    return cosine_topk(pruned, q, k=k, id_col=id_col, vec_col=vec_col)
