"""Site-level boilerplate removal — corpus-frequency block dedup.

The reference engine strips boilerplate *within* one document
(selector-driven removal + link/text-density heuristics,
extract.zig's contract).  A 100-TB corpus enables the complementary,
inherently-distributed signal a single-node parser cannot compute:
a text block that repeats across most pages of a HOST (cookie
banners, footers, nav crumbs rendered as text, share widgets) is
chrome, whatever its local density looks like.  This module is that
pipeline, Spark-first:

1. ``text_blocks_udf`` (map-only Arrow kernel pass): outermost
   block-level elements' innerText in document order — one parse per
   document, one array out, fan-out via JVM ``explode``.
2. block fingerprint = ``md5`` of the whitespace-collapsed text
   (JVM-side column).
3. per-``(host, fingerprint)`` document frequency — two windows over
   ONE ``(host, fp)`` exchange and sort: the dense rank of each block's
   doc inside its group, then the group's top rank.  Windows rather
   than an aggregate joined back, because that self-join reads the
   block frame twice and so runs the kernel UDF on both sides.
4. per-host page counts — an aggregate over the DOC frame (one row
   per host; tiny, broadcast back).
5. blocks whose doc-frequency ratio ≥ ``threshold`` (and absolute
   count ≥ ``min_docs``) are boilerplate; survivors reassemble per
   doc with ``array_sort(collect_list(struct(pos, text)))`` — the
   second and last shuffle, on ``doc_id``.

Scale notes: both shuffles key on high-cardinality columns
((host, fp) and doc_id) so they salt-free rebalance.  The (host, fp)
shuffle carries the block text; the self-join form avoided it when AQE
broadcast its frequency table in time, but paid a second kernel pass
and two distinct-aggregate shuffles of the (host, fp, doc) keys.
Skew: a block that repeats on every page of a hot host is one
(host, fp) window group of one row per page, sorted and scanned in one
task (the window buffer spills, so it is slow, not an OOM), and AQE
skew handling does not split window partitions.  On a 4-core box, one
host with 2x10^5 pages and a footer on every page ran in 0.56x the
self-join's time (BENCH.md); past ~10^6 pages a host, run it on a
per-host sample.

Block definition (pinned by tests): elements matching
``BLOCK_SELECTOR`` with NO matching ancestor (outermost wins — a
``blockquote > p`` contributes one block, not two), innerText
whitespace-normalized, empty blocks dropped.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from ..kernel.htmlparse import parse
from ..kernel.matcher import iter_topmost
from ..kernel.selector import compile_selector
from ..kernel.text import inner_text
from .html_ops import doc_udf

#: block-level elements considered candidate boilerplate units.  td is
#: excluded on purpose (tables fragment into per-cell false positives);
#: li is included (nav lists are the dominant chrome shape).
BLOCK_SELECTOR = "p, h1, h2, h3, h4, h5, h6, li, pre, blockquote, dt, dd"

BLOCKS_TYPE = ArrayType(
    StructType([
        StructField("pos", IntegerType(), False),
        StructField("text", StringType(), False),
    ])
)


def text_blocks_udf(selector: str = BLOCK_SELECTOR):
    """Outermost ``selector`` matches' innerText in document order as
    ``array<struct<pos,text>>`` — one kernel parse per document,
    map-only, truncated at ``html_ops.MAX_DOC_BYTES``.  ``pos`` numbers
    surviving (non-empty) blocks."""
    sel = compile_selector(selector)

    def one(data: bytes):
        dom = parse(data)
        out: List[tuple] = []
        for i in iter_topmost(dom, sel):  # outermost wins
            t = inner_text(dom, i, True).decode("utf-8", "replace")
            if t:
                out.append((len(out), t))
        return out

    return doc_udf(BLOCKS_TYPE, one)


def block_frame(df: DataFrame, html_col: str = "html",
                doc_col: str = "doc_id", host_col: str = "host",
                selector: str = BLOCK_SELECTOR) -> DataFrame:
    """Exploded block frame: (doc, host, pos, text, fp)."""
    blocks = text_blocks_udf(selector)(F.col(html_col))
    return (
        df.select(doc_col, host_col, F.explode(blocks).alias("b"))
        .select(doc_col, host_col,
                F.col("b.pos").alias("pos"), F.col("b.text").alias("text"))
        .withColumn("fp", F.md5(F.col("text")))
    )


def remove_boilerplate(df: DataFrame, html_col: str = "html",
                       doc_col: str = "doc_id", host_col: str = "host",
                       threshold: float = 0.5, min_docs: int = 2,
                       selector: str = BLOCK_SELECTOR,
                       joiner: str = "\n") -> DataFrame:
    """Corpus-frequency main-content extraction: drop every block that
    is host-level boilerplate, reassemble the rest in document order.
    Returns (doc, host, main_text, n_blocks_kept, n_blocks_dropped).

    Documents whose blocks are ALL boilerplate still appear (empty
    main_text, n_blocks_kept = 0) — dropping pages silently would skew
    downstream corpus accounting.  (Documents with NO candidate blocks
    at all have nothing to reassemble and are absent from the output —
    join back to the source frame when completeness matters.)

    Global (cross-host) frequency dedup — the CCNet-style "drop lines
    that repeat anywhere in the corpus" — is the same pipeline with a
    constant host column (``F.lit("")``); the per-host form is the
    default because chrome is overwhelmingly site-scoped and a global
    threshold on a 10^12-page corpus would only catch universal
    strings.
    """
    blocks = block_frame(df, html_col, doc_col, host_col, selector)
    totals = (df.groupBy(host_col)
              .agg(F.countDistinct(doc_col).alias("host_docs")))
    # df_docs = countDistinct(doc) per (host, fp): docs rank nulls last,
    # and a null doc counts for nothing
    by_fp = Window.partitionBy(host_col, "fp")
    rank = F.dense_rank().over(by_fp.orderBy(F.col(doc_col).asc_nulls_last()))
    df_docs = F.max(F.when(F.col(doc_col).isNotNull(), F.col("_rank"))).over(by_fp)
    tagged = (blocks.withColumn("_rank", rank)
              .withColumn("df_docs", df_docs)
              .join(totals, host_col, "left"))
    boiler = F.coalesce((F.col("df_docs") >= min_docs)
                        & (F.col("df_docs") >= F.col("host_docs") * threshold),
                        F.lit(False))
    kept = F.filter(
        F.array_sort(F.collect_list(
            F.when(~boiler, F.struct(F.col("pos"), F.col("text"))))),
        lambda s: s.isNotNull())
    return (
        tagged.groupBy(doc_col, host_col)
        .agg(
            kept.alias("_kept"),
            F.count(F.lit(1)).alias("_n_total"),
        )
        .select(
            doc_col, host_col,
            F.array_join(F.transform(F.col("_kept"), lambda s: s.text),
                         joiner).alias("main_text"),
            F.size("_kept").cast("int").alias("n_blocks_kept"),
            (F.col("_n_total") - F.size("_kept")).cast("int")
            .alias("n_blocks_dropped"),
        )
    )
