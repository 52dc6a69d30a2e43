"""Every HTML operator is built on ``html_ops.doc_udf``, so every one
truncates its input at ``MAX_DOC_BYTES`` and maps a null input to a
null result.  One case per operator; the case table must list every
public ``*_udf`` of ``html_ops`` and every ``html_*`` SQL function."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from html_parser_spark.operators import html_ops
from html_parser_spark.operators.boilerplate import text_blocks_udf
from html_parser_spark.operators.html_ops import MAX_DOC_BYTES

HEAD = '<p id="head">'
#: everything here lies past the cut; the table feeds table_cells_udf
TAIL = '</p><table><tr><td><b id="tail">tail</b></td></tr></table>'


def _ident(c):
    return c


def _no_tail(c):
    """0 when the output holds no trace of the marker."""
    return F.instr(F.to_json(F.array(c)), "tail")


def _sql(expr):
    return lambda html: F.expr(expr)


# name -> (build: html column -> output column, probe, expected probe)
CASES = {
    "doc_udf": (lambda h: html_ops.doc_udf(
        StringType(), lambda data: data[-8:].decode("utf-8", "replace"))(h),
        _ident, "x" * 8),
    "node_count_udf": (lambda h: html_ops.node_count_udf()(h), _ident, 3),
    "query_count_udf": (lambda h: html_ops.query_count_udf("#tail")(h), _ident, 0),
    "inner_text_udf": (lambda h: html_ops.inner_text_udf("p, #tail")(h), _no_tail, 0),
    "attr_value_udf": (lambda h: html_ops.attr_value_udf("#tail", "id")(h), _no_tail, 0),
    "to_markdown_udf": (lambda h: html_ops.to_markdown_udf()(h), _no_tail, 0),
    "table_cells_udf": (lambda h: html_ops.table_cells_udf()(h), _no_tail, 0),
    "fields_udf": (lambda h: html_ops.fields_udf(
        {"head": "p", "text": "#tail", "id": ("#tail", "id")})(h), _no_tail, 0),
    "extract_struct_udf": (lambda h: html_ops.extract_struct_udf()(h), _no_tail, 0),
    "links_udf": (lambda h: html_ops.links_udf("#tail", ("id",))(h), _no_tail, 0),
    "explain_udf": (lambda h: html_ops.explain_udf("#tail")(h),
                    lambda c: c["matched_index"], None),
    "parse_stats_udf": (lambda h: html_ops.parse_stats_udf()(h),
                        lambda c: c["input_len"], MAX_DOC_BYTES),
    "serialize_html_udf": (lambda h: html_ops.serialize_html_udf("#tail")(h), _no_tail, 0),
    "text_blocks_udf": (lambda h: text_blocks_udf("p, b")(h), _no_tail, 0),
    "html_node_count": (_sql("html_node_count(html)"), _ident, 3),
    "html_query_count": (_sql("html_query_count(html, '#tail')"), _ident, 0),
    "html_inner_text": (_sql("html_inner_text(html, '#tail')"), _no_tail, 0),
    "html_attr": (_sql("html_attr(html, '#tail', 'id')"), _no_tail, 0),
    "html_markdown": (_sql("html_markdown(html)"), _no_tail, 0),
}


@pytest.fixture(scope="module")
def docs(spark):
    """Row 0: a document longer than MAX_DOC_BYTES, built JVM-side,
    with the marker past the cut; row 1: null."""
    html_ops.register_sql_functions(spark)
    giant = F.concat(F.lit(HEAD), F.repeat(F.lit("x"), MAX_DOC_BYTES), F.lit(TAIL))
    return spark.range(2).select(
        "id", F.when(F.col("id") == 0, giant).alias("html"))


def test_case_table_lists_every_html_udf(spark):
    html_ops.register_sql_functions(spark)
    udfs = {n for n in dir(html_ops) if n.endswith("_udf") and not n.startswith("_")}
    sql = {f.name for f in spark.catalog.listFunctions(pattern="html_*")}
    assert udfs | {"text_blocks_udf"} | sql == set(CASES)


@pytest.mark.parametrize("name", sorted(CASES))
def test_truncates_at_max_doc_bytes_and_propagates_null(docs, name):
    build, probe, expected = CASES[name]
    is_giant = F.col("id") == 0
    rows = (docs.withColumn("out", build(F.col("html")))
                .select("id",
                        F.when(is_giant, probe(F.col("out"))).alias("probe"),
                        F.when(~is_giant, F.to_json(F.array("out"))).alias("null_out"))
                .orderBy("id").collect())
    assert rows[0]["probe"] == expected
    assert rows[1]["null_out"] in ("[null]", "[{}]")
