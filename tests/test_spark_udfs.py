"""Spark operator layer: pandas-UDF results must equal the kernel run
directly (same rows), and nulls must propagate."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from html_parser_spark.kernel.extract import extract_main
from html_parser_spark.kernel.htmlparse import parse
from html_parser_spark.kernel.matcher import query_all
from html_parser_spark.kernel.selector import compile_selector
from html_parser_spark.operators import html_ops

DOCS = [
    "<div id='a'><ul><li class='w'>x</li><li class='w'>y</li></ul></div>",
    "<html><body><nav><a href='/'>n</a></nav><main><p>content here</p></main></body></html>",
    "<p>a &amp; b</p>",
    "<div<div>",
    "<script>junk</script><div id='d' data-k='v'>t</div>",
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame([(i, d) for i, d in enumerate(DOCS)], ["i", "html"])


def test_query_count_matches_kernel(spark, docs_df):
    sel = "li.w, div"
    out = docs_df.select("i", html_ops.query_count_udf(sel)(F.col("html")).alias("n")).orderBy("i").collect()
    compiled = compile_selector(sel)
    for row in out:
        expected = len(query_all(parse(DOCS[row["i"]].encode()), compiled))
        assert row["n"] == expected


def test_extract_struct_matches_kernel(spark, docs_df):
    ex = html_ops.extract_struct_udf()
    rows = docs_df.withColumn("e", ex(F.col("html"))).select("i", "e.*").orderBy("i").collect()
    for row in rows:
        r = extract_main(DOCS[row["i"]].encode())
        assert row["main_text"] == r.main_text
        assert row["n_nodes"] == r.n_nodes
        assert [(s["start"], s["end"]) for s in row["spans"]] == r.spans


def test_null_propagation(spark):
    df = spark.createDataFrame([(1, None), (2, "<p>x</p>")], ["i", "html"])
    out = df.select(
        "i",
        html_ops.node_count_udf()(F.col("html")).alias("n"),
        html_ops.extract_struct_udf()(F.col("html")).alias("e"),
    ).orderBy("i").collect()
    assert out[0]["n"] is None and out[0]["e"]["main_text"] is None
    assert out[1]["n"] == 3 and out[1]["e"]["main_text"] == "x"


def test_inner_text_and_attr_udfs(spark, docs_df):
    out = (
        docs_df.select(
            "i",
            html_ops.inner_text_udf("main p")(F.col("html")).alias("t"),
            html_ops.attr_value_udf("#d", "data-k")(F.col("html")).alias("a"),
        )
        .orderBy("i")
        .collect()
    )
    assert out[1]["t"] == "content here"
    assert out[4]["a"] == "v"
    assert out[0]["a"] is None


def test_serialize_udf(spark, docs_df):
    out = docs_df.select("i", html_ops.serialize_html_udf("ul")(F.col("html")).alias("h")).orderBy("i").collect()
    assert out[0]["h"] == "<ul><li class='w'>x</li><li class='w'>y</li></ul>"


def test_arrow_batching_is_used(spark):
    # many rows through one UDF: exercises Iterator[pd.Series] batching
    n = 2000
    df = spark.range(n).withColumn("html", F.concat(F.lit("<div id='x'><p>"), F.col("id").cast("string"), F.lit("</p></div>")))
    got = df.select(F.sum(html_ops.node_count_udf()(F.col("html"))).alias("s")).collect()[0]["s"]
    assert got == n * 4  # document + div + p + text


def test_max_doc_bytes_poison_pill_guard(spark):
    """A pathological giant document is truncated at MAX_DOC_BYTES
    before parsing (permissive parser: truncation == EOF) instead of
    blowing memory; normal rows are untouched; a multi-byte UTF-8 char
    cut by the limit decodes as U+FFFD."""
    from html_parser_spark.operators.html_ops import MAX_DOC_BYTES, extract_struct_udf

    head = "<main id='main'><p>"
    n_x = MAX_DOC_BYTES - len(head) - 1  # the cut falls inside the 2-byte 'é'
    giant = F.concat(F.lit(head), F.repeat(F.lit("x"), n_x),
                     F.lit("é<b id='tail'>tail</b></p></main>"))
    df = spark.range(2).select(
        "id", F.when(F.col("id") == 0, F.lit("<main id='main'><p>small</p></main>"))
        .otherwise(giant).alias("html"))
    out = (df.withColumn("e", extract_struct_udf()(F.col("html")))
             .select("id", "e.n_nodes",
                     F.length("e.main_text").alias("len"),
                     F.instr("e.main_text", "tail").alias("tail_at"),
                     F.substring("e.main_text", -2, 2).alias("end"),
                     F.when(F.col("id") == 0, F.col("e.main_text")).alias("small"))
             .orderBy("id").collect())
    assert out[0]["small"] == "small"
    assert (out[1]["n_nodes"], out[1]["len"], out[1]["tail_at"], out[1]["end"]) == (
        4, n_x + 1, 0, "x\ufffd")


def test_deep_tbody_nesting_is_not_a_poison_pill(spark):
    """3000 nested <tbody> wrappers (far past the recursion limit)
    flatten through table_cells_udf and html_markdown."""
    html_ops.register_sql_functions(spark)
    html = ("<table>" + "<tbody>" * 3000 + "<tr><td>deep</td></tr>"
            + "</tbody>" * 3000 + "</table>")
    row = spark.createDataFrame([(html,)], "html string").select(
        html_ops.table_cells_udf()(F.col("html")).alias("c"),
        F.expr("html_markdown(html)").alias("m")).collect()[0]
    assert [tuple(x) for x in row["c"]] == [(0, 0, 0, "deep")]
    assert row["m"] == "| deep |\n| --- |"


def test_sql_registered_functions(spark):
    """spark.sql users can call the kernel directly, with per-row
    dynamic selectors (compile lru-cached per worker)."""
    from html_parser_spark.operators.html_ops import register_sql_functions

    register_sql_functions(spark)
    df = spark.createDataFrame(
        [("<ul><li class='a'>x</li><li class='a'>y</li></ul>", "li.a"),
         ("<div><a href='/d' id='k'>Docs</a></div>", "a#k"),
         (None, "li")],
        "html string, sel string",
    )
    df.createOrReplaceTempView("pages")
    rows = spark.sql("""
        select html_node_count(html)            as n,
               html_query_count(html, sel)      as c,
               html_inner_text(html, sel)       as t,
               html_attr(html, sel, 'href')     as href
        from pages
    """).collect()
    by_c = {r["c"]: r for r in rows}
    assert by_c[2]["n"] == 6 and by_c[2]["t"] == "x" and by_c[2]["href"] is None
    assert by_c[1]["t"] == "Docs" and by_c[1]["href"] == "/d"
    assert any(r["n"] is None for r in rows)  # null html propagates
    md = spark.sql(
        "select html_markdown('<h1>T</h1><ul><li>a</li></ul>') as m"
    ).collect()[0]["m"]
    assert md == "# T\n\n- a"


def test_table_cells_udf_matches_kernel(spark):
    """Structured table extraction: array-of-struct per doc, preorder
    table order, section wrappers flattened, inline markup rendered;
    no-table docs yield an empty array and null html propagates."""
    html = ("<table><thead><tr><th>h</th></tr></thead>"
            "<tbody><tr><td>a</td><td><b>b</b></td></tr></tbody></table>"
            "<p>x</p><table><tr><td>z &amp; w</td></tr></table>")
    df = spark.createDataFrame(
        [(0, html), (1, "<p>no table</p>"), (2, None)], ["i", "html"])
    out = (df.select("i", html_ops.table_cells_udf()(F.col("html")).alias("cells"))
             .orderBy("i").collect())
    assert [tuple(c) for c in out[0]["cells"]] == [
        (0, 0, 0, "h"), (0, 1, 0, "a"), (0, 1, 1, "**b**"),
        (1, 0, 0, "z & w")]
    assert list(out[1]["cells"]) == []
    assert out[2]["cells"] is None


def test_fields_udf_one_parse_multi_field(spark):
    """Wrapper extraction: innerText fields, attr fields, missing
    selector/attr -> null, null html -> all-null struct."""
    from html_parser_spark.operators.html_ops import fields_udf

    html = ("<article><h1> Title  here </h1>"
            "<span class='by'>Ann</span>"
            "<a id='perma' href='/p/7'>link</a>"
            "<time datetime='2024-01-02'>Jan 2</time></article>")
    df = spark.createDataFrame([(0, html), (1, "<p>bare</p>"), (2, None)],
                               ["i", "html"])
    ex = fields_udf({
        "title": "h1",
        "author": "span.by",
        "url": ("a#perma", "href"),
        "published": ("time", "datetime"),
        "missing_sel": "h2",
        "missing_attr": ("h1", "data-x"),
    })
    out = df.select("i", ex(F.col("html")).alias("r")).orderBy("i").collect()
    r0 = out[0]["r"]
    assert (r0["title"], r0["author"], r0["url"], r0["published"]) == (
        "Title here", "Ann", "/p/7", "2024-01-02")
    assert r0["missing_sel"] is None and r0["missing_attr"] is None
    r1 = out[1]["r"]
    assert r1["title"] is None and r1["url"] is None
    assert all(v is None for v in out[2]["r"].asDict().values())


def test_table_cells_udf_nested_table_contract(spark):
    """A nested <table> is its own match (own table_idx) AND its text
    inlines into the enclosing cell — the documented shared contract
    with the Markdown renderer."""
    html = ("<table><tr><td>outer "
            "<table><tr><td>inner</td></tr></table>"
            "</td></tr></table>")
    df = spark.createDataFrame([(0, html)], ["i", "html"])
    cells = df.select(
        html_ops.table_cells_udf()(F.col("html")).alias("c")).collect()[0]["c"]
    assert [tuple(x) for x in cells] == [
        (0, 0, 0, "outer inner"), (1, 0, 0, "inner")]


def test_fields_udf_rejects_empty_field_map(spark):
    from html_parser_spark.operators.html_ops import fields_udf

    import pytest as _pytest
    with _pytest.raises(ValueError):
        fields_udf({})
