"""Corpus-preparation operators: deterministic holdout splits and
sequence packing.

Beyond-the-reference training-data operators (same family as
operators/dedup.py and operators/curate.py): before a corpus reaches
a trainer it needs (a) a stable train/val/test assignment that never
moves a document between splits as the corpus grows, and (b) packing
of variable-length documents into fixed-token-budget training
sequences.

Both are pure DataFrame compositions, no Python kernels:

* ``split_assign`` buckets a stable content-independent hash of the
  id — ``md5`` (shared bit-exactly by every engine, unlike
  ``xxhash64``) → first 8 hex chars → int → mod ``buckets`` — and
  maps bucket ranges to named splits.  Map-only: no shuffle at all;
  adding documents never reassigns existing ones (the classic
  hash-split contract).
* ``pack_sequences`` implements concatenate-and-chop packing (the
  standard GPT-style pretraining layout: stream documents in a
  deterministic order, cut every ``budget`` tokens).  The stream is
  sharded into ``n_buckets`` independent packing streams by id hash
  so packing parallelizes; within a bucket a running-sum window over
  (bucket) ordered by id yields each document's start offset, its
  sequence number, and whether it straddles a cut.  One shuffle on
  the bucket key.

Scale notes: ``split_assign`` is embarrassingly parallel.
``pack_sequences`` shuffles once on ``n_buckets`` uniform hash keys;
each bucket's window is an independent sorted stream, so width scales
with ``n_buckets`` (pick ≥ cluster cores; 4096 in production matches
the pipeline's bucket count).  Nothing is collected to the driver.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sql import ident
from .textstats import token_count_sql, words_sql


def hash_bucket_sql(id_col: str, buckets: int) -> str:
    """SQL text of :func:`hash_bucket`."""
    h = f"md5(CAST(CAST({ident(id_col)} AS STRING) AS BINARY))"
    return f"CAST(conv(substring({h}, 1, 8), 16, 10) AS BIGINT) % {int(buckets)}"


def hash_bucket(id_col: str, buckets: int) -> Column:
    """Stable engine-portable bucket in [0, buckets): first 8 hex
    chars of md5(id-as-string) as an integer, mod ``buckets``.
    DuckDB twin: ``('0x' || substr(md5(cast(id as varchar)),1,8))
    ::bigint % buckets``."""
    return F.expr(hash_bucket_sql(id_col, buckets))


def split_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    splits: Sequence[Tuple[str, float]] = (
        ("train", 0.90), ("val", 0.05), ("test", 0.05),
    ),
    buckets: int = 1000,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic holdout assignment: hash-bucket each id and map
    contiguous bucket ranges to the named splits (fractions must sum
    to 1, each in [0, 1]; ranges are [floor(cum*buckets) boundaries,
    so every bucket lands in exactly one split).  Map-only, no shuffle;
    a document's split never changes as the corpus grows."""
    if any(not 0.0 <= f <= 1.0 for _, f in splits):
        raise ValueError(f"split fractions must each be in [0, 1]: {splits}")
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions sum to {total}, expected 1")
    b = hash_bucket_sql(id_col, buckets)
    idx = "".join(f" WHEN {b} < {int(round(cum * buckets))} THEN {i}"
                  for i, cum in enumerate(accumulate(f for _, f in splits[:-1]), 1))
    # the names are caller-supplied: literals, indexed by SQL text
    return docs.withColumn(out_col, F.element_at(F.array(*[F.lit(name) for name, _ in splits]),
                                                 F.expr(f"CASE{idx} ELSE {len(splits)} END" if idx else "1")))


def with_packing(
    docs: DataFrame,
    by: Sequence[str] = (),
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_buckets: int = 8,
) -> DataFrame:
    """``docs`` plus the :func:`pack_sequences` columns, one packing
    stream per ``(*by, bucket)`` ordered by id, so a sequence never
    mixes two values of a ``by`` column.  One shuffle on that key."""
    key = ", ".join(ident(c) for c in (*by, "bucket"))
    budget = int(budget)
    end = "start_offset + n_tokens - 1"
    seq = f"(start_offset - start_offset % {budget}) / {budget}"
    end_seq = f"(({end}) - ({end}) % {budget}) / {budget}"
    return docs.withColumns({
        "bucket": F.expr(hash_bucket_sql(id_col, n_buckets)),
        "n_tokens": F.expr(f"CAST({token_count_sql(text_col)} AS BIGINT)"),
    }).withColumn("start_offset", F.expr(
        f"sum(n_tokens) OVER (PARTITION BY {key} ORDER BY {ident(id_col)}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens",
    )).withColumns({
        "seq_id": F.expr(f"CAST({seq} AS BIGINT)"),
        "crosses_cut": F.expr(
            f"CASE WHEN n_tokens > 0 THEN CAST({end_seq} > {seq} AS INT) ELSE 0 END"),
    })


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_buckets: int = 8,
) -> DataFrame:
    """Concatenate-and-chop packing plan: shard documents into
    ``n_buckets`` streams by id hash, order each stream by id, and
    compute every document's position in the chopped token stream.

    Returns one row per document: ``bucket``, id, ``n_tokens``
    (whitespace tokens, same counter as textstats), ``start_offset``
    (tokens before it in its stream), ``seq_id`` (=
    start_offset // budget — the training sequence its first token
    lands in), and ``crosses_cut`` (1 when the document straddles a
    sequence boundary and the loader must span two sequences).
    """
    return with_packing(docs, (), id_col, text_col, budget, n_buckets).select(
        "bucket", id_col, "n_tokens", "start_offset", "seq_id", "crosses_cut")


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking (RAG / long-context prep):
    split each document into windows of ``chunk`` whitespace tokens
    overlapping by ``overlap``, emitting ``(id, n_tokens, chunk_idx,
    chunk_len, chunk_text)``.

    Window starts step by ``chunk - overlap``; the number of windows
    is ``max(1, ceil((n_tokens - overlap) / step))`` so every token is
    covered, the final (possibly short) window is kept, and an empty
    document still yields one empty chunk.

    Scale shape: pure row expansion — ``explode(sequence(...))`` over
    a per-row computed window count plus ``slice`` on the cached token
    array, all in the scan projection.  No shuffle, no Python; output
    row count is ~``n_tokens / step`` per doc, bounded and uniform.
    """
    if not 0 <= overlap < chunk:
        raise ValueError(f"need 0 <= overlap({overlap}) < chunk({chunk})")
    step, n = chunk - overlap, token_count_sql(text_col)
    n_chunks = f"greatest(1, ceil((CAST({n} AS DOUBLE) - {float(overlap)!r}D) / {float(step)!r}D))"
    piece = f"slice(_toks, chunk_idx * {step} + 1, {chunk})"
    return docs.select(
        F.col(id_col),
        F.expr(f"{words_sql(text_col)} AS _toks"),
        F.expr(f"CAST({n} AS BIGINT) AS n_tokens"),
        F.expr(f"explode(sequence(0, CAST({n_chunks} - 1 AS INT))) AS chunk_idx"),
    ).select(
        id_col,
        "n_tokens",
        F.expr("CAST(chunk_idx AS INT) AS chunk_idx"),
        F.expr(f"CAST(array_size({piece}) AS INT) AS chunk_len"),
        F.expr(f"array_join({piece}, ' ') AS chunk_text"),
    )
