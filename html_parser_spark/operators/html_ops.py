"""Vectorized Spark operators over HTML columns.

Every operator is an Arrow-batched pandas UDF built by ``doc_udf``
(``Iterator`` form so per-batch state — the compiled selector — is set
up once per executor task, not per row).  No row-at-a-time Python UDFs anywhere:
the per-row work happens inside the kernel on ``bytes`` with C-speed
scanning, and batches move JVM↔Python as Arrow buffers.

Selectors are compiled once on the driver (cheap, pure Python) and
shipped to executors inside the UDF closure — the Spark-native
equivalent of the reference's "compile once, query cached" API
(document.zig:406-412).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..kernel import MAX_DOC_BYTES
from ..kernel.extract import extract_main
from ..kernel.htmlparse import INVALID, parse
from ..kernel.matcher import query_all, query_one
from ..kernel.selector import compile_selector
from ..kernel.text import inner_text
from ..kernel.attrs import get_attr

SPAN_TYPE = ArrayType(
    StructType([
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ])
)

EXTRACT_SCHEMA = StructType([
    StructField("main_text", StringType(), True),
    StructField("spans", SPAN_TYPE, True),
    StructField("n_nodes", IntegerType(), True),
    StructField("n_removed", IntegerType(), True),
])


def doc_udf(schema, fn):
    """The one Arrow-batched pandas UDF shape behind every document
    operator (HTML, PDF, image decode, media probe).  ``fn(data,
    *args)`` runs once per row on the document's bytes truncated to
    ``MAX_DOC_BYTES`` (a string column UTF-8 encoded, a binary column
    as is), followed by that row's values of any further argument
    columns (the SQL functions' selector and attribute columns).  A
    null in any input column gives a null result.  For a ``StructType``
    schema ``fn`` returns a dict keyed by field name, and a null row
    becomes a struct of all-null fields."""
    if isinstance(schema, StructType):
        null = dict.fromkeys(schema.fieldNames())
        assemble = partial(pd.DataFrame, columns=list(null))
    else:
        null, assemble = None, pd.Series

    @F.pandas_udf(schema)
    def udf(it: Iterator[Tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        for batch in it:
            yield assemble(_apply(fn, null, batch))
    return udf


def _apply(fn, null, batch) -> list:
    """``doc_udf``'s row loop.  Module level, so it pickles by reference:
    a worker imports this package (and its zip-importer hook, see
    ``html_parser_spark/__init__``) with the first ``doc_udf`` it runs."""
    if isinstance(batch, tuple):  # SQL functions: argument columns
        docs = _apply(lambda data: data, None, batch[0])
        return [null if None in row else fn(*row) for row in zip(docs, *batch[1:])]
    # one column: keep the per-row hot path minimal.  Whether it holds
    # bytes (a binary column) or str is judged once per batch.
    if isinstance(next((v for v in batch if v is not None), None), bytes):
        return [null if b is None else fn(b[:MAX_DOC_BYTES]) for b in batch]
    return [null if h is None else fn(h.encode("utf-8")[:MAX_DOC_BYTES])
            for h in batch]


def _first(dom, sel, render):
    """``render(dom, idx)`` of the first ``sel`` match, or None."""
    idx = query_one(dom, sel)
    return None if idx is None else render(dom, idx)


def _first_text(dom, sel) -> Optional[str]:
    """Normalized innerText of the first ``sel`` match, or None."""
    return _first(dom, sel, lambda d, i: inner_text(d, i, True).decode("utf-8", errors="replace"))


def _first_attr(dom, sel, attr_name: str) -> Optional[str]:
    """Decoded ``attr_name`` of the first ``sel`` match, or None."""
    v = _first(dom, sel, lambda d, i: get_attr(d, i, attr_name))
    return None if v is None else v.decode("utf-8", errors="replace")


def node_count_udf():
    """Parsed node count per document (document node included) —
    mirrors ParseInstrumentationStats.node_count."""
    return doc_udf(LongType(), lambda data: len(parse(data)))


def query_count_udf(selector):
    """count(queryAll(selector)) per document."""
    sel = compile_selector(selector)
    return doc_udf(LongType(), lambda data: len(query_all(parse(data), sel)))


def inner_text_udf(selector, normalize_whitespace: bool = True, joiner: str = "\x1f"):
    """innerText of every match, joined by ``joiner`` (empty string when
    no match) — queryAll → innerText composition."""
    sel = compile_selector(selector)

    def one(data: bytes) -> str:
        dom = parse(data)
        return joiner.join(
            inner_text(dom, i, normalize_whitespace).decode("utf-8", errors="replace")
            for i in query_all(dom, sel))

    return doc_udf(StringType(), one)


def attr_value_udf(selector, attr_name: str):
    """Decoded attribute value of the FIRST match (null when the
    selector misses or the attribute is absent) — queryOne →
    getAttributeValue composition."""
    sel = compile_selector(selector)
    return doc_udf(StringType(), lambda data: _first_attr(parse(data), sel, attr_name))


def to_markdown_udf(selector=None):
    """Markdown rendering of the document (or of the FIRST ``selector``
    match when one is given; null when it misses) — the structural
    sibling of extraction: headings/lists/links/code survive as
    Markdown instead of being flattened to plain text.  Map-only, same
    Arrow-batch shape as every other kernel operator."""
    from ..kernel.markdown import to_markdown

    sel = compile_selector(selector) if selector is not None else None

    def one(data: bytes) -> Optional[str]:
        dom = parse(data)
        return to_markdown(dom, 0) if sel is None else _first(dom, sel, to_markdown)

    return doc_udf(StringType(), one)


TABLE_CELL_TYPE = ArrayType(
    StructType([
        StructField("table_idx", IntegerType(), False),
        StructField("row_idx", IntegerType(), False),
        StructField("cell_idx", IntegerType(), False),
        StructField("cell", StringType(), False),
    ])
)


def table_cells_udf(selector: str = "table"):
    """Structured table extraction: every cell of every ``selector``
    match as ``(table_idx, row_idx, cell_idx, cell)`` — the relational
    twin of the Markdown pipe-table renderer (same kernel walk, same
    inline/whitespace semantics).  Returned as one array per document
    so the caller explodes JVM-side; empty array when no table.

    Nested tables: the inner ``<table>`` is its own match (own
    ``table_idx``, its cells emitted separately) AND its text is
    inline-rendered into the enclosing cell's string — the same
    contract the Markdown renderer applies to any element inside a
    cell.  Filter matches (e.g. ``table:not(table table)`` is NOT in
    the supported grammar — pre-filter by table_idx instead) when only
    outermost tables are wanted."""
    from ..kernel.markdown import table_rows

    sel = compile_selector(selector)

    def one(data: bytes):
        dom = parse(data)
        return [(t, r, c, cell)
                for t, idx in enumerate(query_all(dom, sel))
                for r, row in enumerate(table_rows(dom, idx))
                for c, cell in enumerate(row)]

    return doc_udf(TABLE_CELL_TYPE, one)


def fields_udf(fields):
    """Multi-field record extraction ("wrapper extraction"): a dict of
    ``name -> selector`` (innerText of the FIRST match) or
    ``name -> (selector, attr)`` (decoded attribute of the first
    match) evaluated with ONE parse per document, returned as a struct
    column — k fields cost one DOM, not k (``inner_text_udf`` /
    ``attr_value_udf`` chained would parse k times).  Missing
    selector/attribute → null field.  The queryOne → innerText /
    getAttributeValue composition over the kernel, batched per Arrow
    block like every other operator."""
    if not fields:
        raise ValueError("fields_udf needs at least one field "
                         "(Arrow cannot ship an empty struct)")
    compiled = []
    for name, spec in fields.items():
        sel, attr = (spec, None) if isinstance(spec, str) else spec
        compiled.append((name, compile_selector(sel), attr))
    schema = StructType([StructField(n, StringType(), True) for n, _, _ in compiled])

    def one(data: bytes):
        dom = parse(data)
        return {
            name: _first_text(dom, sel) if attr is None else _first_attr(dom, sel, attr)
            for name, sel, attr in compiled
        }

    return doc_udf(schema, one)


def _extract_row(data: bytes) -> dict:
    r = extract_main(data)
    return {
        "main_text": r.main_text,
        "spans": [{"start": s, "end": e} for s, e in r.spans],
        "n_nodes": r.n_nodes,
        "n_removed": r.n_removed,
    }


def extract_struct_udf():
    """Main-content extraction with the kernel's default profile,
    returning struct(main_text, spans, n_nodes, n_removed).  The
    flagship operator of the pipeline.  Documents over ``MAX_DOC_BYTES``
    are truncated before parsing, as for every operator built on
    ``doc_udf``, and ``n_removed`` is reported as usual."""
    return doc_udf(EXTRACT_SCHEMA, _extract_row)


LINKS_SCHEMA = ArrayType(StructType([
    StructField("tag", StringType(), False),
    StructField("url", StringType(), False),
    StructField("text", StringType(), True),
]))


def links_udf(selector: str = "a[href], img[src], script[src], link[href]",
              attrs: tuple = ("href", "src")):
    """URL mining: every matched element's first present URL attribute,
    with its (normalized) innerText — the standard link-graph /
    crawl-frontier extraction of a web pipeline, expressed as
    queryAll → getAttributeValue → innerText over the kernel."""
    sel = compile_selector(selector)

    def one(data: bytes):
        dom = parse(data)
        out = []
        for idx in query_all(dom, sel):
            for a in attrs:
                v = get_attr(dom, idx, a)
                if v is not None:
                    out.append({
                        "tag": (dom.name_disp[idx] or b"").decode("utf-8", "replace"),
                        "url": v.decode("utf-8", "replace"),
                        "text": inner_text(dom, idx, True).decode("utf-8", "replace"),
                    })
                    break
        return out

    return doc_udf(LINKS_SCHEMA, one)


EXPLAIN_SCHEMA = StructType([
    StructField("matched_index", IntegerType(), True),
    StructField("matched_group", IntegerType(), True),
    StructField("visited_elements", IntegerType(), True),
    StructField("n_near_misses", IntegerType(), True),
    StructField("first_failure_kind", StringType(), True),
])


def explain_udf(selector):
    """Near-miss diagnostics of the first-match scan per document —
    explainFirstMatch as a diagnostics column (matcher_debug.zig:18-70).
    ``matched_index``/``matched_group`` are null on no match;
    ``first_failure_kind`` is the classified failure of the first
    near-miss (tag|id|class|attr|pseudo|not_simple|combinator|scope)."""
    from ..kernel.matcher_debug import explain_first_match

    sel = compile_selector(selector)

    def one(data: bytes):
        rpt = explain_first_match(parse(data), sel)
        return {
            "matched_index": None if rpt.matched_index == INVALID else rpt.matched_index,
            "matched_group": None if rpt.matched_index == INVALID else rpt.matched_group,
            "visited_elements": rpt.visited_elements,
            "n_near_misses": len(rpt.near_misses),
            "first_failure_kind": rpt.near_misses[0].reason.kind if rpt.near_misses else None,
        }

    return doc_udf(EXPLAIN_SCHEMA, one)


PARSE_STATS_SCHEMA = StructType([
    StructField("input_len", LongType(), True),
    StructField("node_count", IntegerType(), True),
    StructField("elapsed_ns", LongType(), True),
])


def parse_stats_udf():
    """Per-document ParseInstrumentationStats
    (instrumentation.zig:18-32): input_len, node_count, elapsed_ns.
    Aggregated over a table these are the parse-side metrics the
    pipeline writes to its control table."""
    from ..kernel.instrumentation import parse_with_hooks

    def one(data: bytes):
        box = {}
        parse_with_hooks(data, on_parse_end=lambda st: box.update(vars(st)))
        return box

    return doc_udf(PARSE_STATS_SCHEMA, one)


def register_sql_functions(spark) -> None:
    """Expose the HTML kernel to ``spark.sql`` users:

    - ``html_node_count(html)``
    - ``html_query_count(html, selector)``
    - ``html_inner_text(html, selector)``  (first match, normalized)
    - ``html_attr(html, selector, attr)``
    - ``html_markdown(html)``  (whole-document Markdown rendering)

    Selector arguments are ordinary columns, so they may vary per row;
    compilation is lru-cached per worker (the reference's runtime
    compile is likewise cheap and cacheable, document.zig:439-462)."""
    spark.udf.register("html_node_count", node_count_udf())
    spark.udf.register("html_query_count", doc_udf(
        LongType(), lambda data, q: len(query_all(parse(data), compile_selector(q)))))
    spark.udf.register("html_inner_text", doc_udf(
        StringType(), lambda data, q: _first_text(parse(data), compile_selector(q))))
    spark.udf.register("html_attr", doc_udf(
        StringType(), lambda data, q, a: _first_attr(parse(data), compile_selector(q), a)))
    spark.udf.register("html_markdown", to_markdown_udf())


def serialize_html_udf(selector):
    """Re-serialize the first matching subtree (writeHtml semantics for
    a pristine parse: raw attrs verbatim, void tags unclosed)."""
    sel = compile_selector(selector)
    from ..kernel.serialize import write_html

    def one(data: bytes) -> Optional[str]:
        return _first(parse(data), sel,
                      lambda d, i: write_html(d, i).decode("utf-8", errors="replace"))

    return doc_udf(StringType(), one)
