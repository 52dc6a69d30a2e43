"""Every document operator (HTML, PDF, image decode, media probe) is
built on ``html_ops.doc_udf``, so every one truncates its input at
``MAX_DOC_BYTES`` and maps a null input to a null result.  One case
per operator; the case table must list every public ``*_udf`` of
``html_ops`` and ``layout`` and every ``html_*`` SQL function."""

import hashlib
import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from html_parser_spark.kernel.pdftext import synth_pdf
from html_parser_spark.operators import html_ops, layout
from html_parser_spark.operators.boilerplate import text_blocks_udf
from html_parser_spark.operators.html_ops import MAX_DOC_BYTES
from html_parser_spark.operators.mediaprobe import probe_media, synth_mp4
from html_parser_spark.operators.multimodal import decode_real, extract_features

HEAD = '<p id="head">'
#: everything here lies past the cut; the table feeds table_cells_udf
TAIL = '</p><table><tr><td><b id="tail">tail</b></td></tr></table>'
GIANT_LEN = len(HEAD) + MAX_DOC_BYTES + len(TAIL)
#: a PDF whose only text is the marker, appended past the cut
TAIL_PDF = synth_pdf(["tail"])
#: ftyp + moov of a valid MP4; the giant document becomes one mdat box
#: between them, so the moov lies past the cut
MP4 = synth_mp4(1)
FTYP, MOOV = MP4[:24], MP4[24:]


def _ident(c):
    return c


def _no_tail(c):
    """0 when the output holds no trace of the marker."""
    return F.instr(F.to_json(F.array(c)), "tail")


def _sql(expr):
    return lambda html: F.expr(expr)


def _binary(c):
    return c.cast("binary")


def _pdf_has_tail(pdf):
    """1 when the PDF's (FlateDecode) content stream holds the marker."""
    def one(data):
        stream = data.split(b"stream\n", 1)[1].rsplit(b"\nendstream", 1)[0]
        return int(b"tail" in zlib.decompress(stream))
    return html_ops.doc_udf(IntegerType(), one)(pdf)


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
    "pdf_extract_udf": (lambda h: layout.pdf_extract_udf()(
        F.concat(_binary(h), F.lit(TAIL_PDF))), lambda c: c["n_objects"], 0),
    "synth_pdf_udf": (lambda h: layout.synth_pdf_udf()(h), _pdf_has_tail, 0),
}


def _assets(docs, payload=_binary):
    """The test documents as an asset frame with ``payload(html)``."""
    return docs.select(F.col("id").alias("asset_id"), F.lit("video").alias("kind"),
                       payload(F.col("html")).alias("payload"))


def _features(op, payload=_binary):
    """Build a DataFrame operator's output as struct column ``out``
    beside ``id``."""
    def build(docs):
        out = op(_assets(docs, payload))
        feats = [c for c in out.columns if c not in ("asset_id", "kind")]
        return out.select(F.col("asset_id").alias("id"), F.struct(*feats).alias("out"))
    return build


# name -> (build: docs -> frame of (id, out), probe, expected probe)
FRAME_CASES = {
    # the decode's truncation is checked on the whole payload below
    "extract_features": (_features(extract_features), lambda c: c["n_bytes"], GIANT_LEN),
    # untruncated, the mdat box is skipped and the moov found
    "probe_media": (_features(probe_media, lambda h: F.concat(
        F.lit(FTYP + (8 + GIANT_LEN).to_bytes(4, "big") + b"mdat"),
        _binary(h), F.lit(MOOV))), lambda c: c["container"], None),
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
    udfs = {n for mod in (html_ops, layout) for n in dir(mod)
            if n.endswith("_udf") and not n.startswith("_")}
    sql = {f.name for f in spark.catalog.listFunctions(pattern="html_*")}
    assert udfs | {"text_blocks_udf"} | sql == set(CASES)


@pytest.mark.parametrize("name", sorted(CASES) + sorted(FRAME_CASES))
def test_truncates_at_max_doc_bytes_and_propagates_null(docs, name):
    if name in CASES:
        build, probe, expected = CASES[name]
        out = docs.withColumn("out", build(F.col("html")))
    else:
        build, probe, expected = FRAME_CASES[name]
        out = build(docs)
    is_giant = F.col("id") == 0
    rows = (out.select("id",
                       F.when(is_giant, probe(F.col("out"))).alias("probe"),
                       F.when(~is_giant, F.to_json(F.array("out"))).alias("null_out"))
               .orderBy("id").collect())
    assert rows[0]["probe"] == expected
    assert rows[1]["null_out"] in ("[null]", "[{}]")


def test_extract_features_hashes_whole_payload_decodes_prefix(spark):
    """``n_bytes`` and ``content_hash`` describe the whole payload;
    the decoded features come from its first ``MAX_DOC_BYTES``.  Row 0
    is a PGM whose declared pixels end past the cut: whole, it
    decodes, but its first ``MAX_DOC_BYTES`` are a truncated PGM, so
    its features are NULL.  Row 1, a small PGM, decodes."""
    header = "P5\n4096 4097\n255\n"
    full = header.encode() + b"x" * (4096 * 4097)
    assert len(full) > MAX_DOC_BYTES > len(header)
    assert decode_real(full)[:2] == (4096, 4097)
    with pytest.raises(ValueError, match="truncated"):
        decode_real(full[:MAX_DOC_BYTES])
    small = "P5\n3 2\n255\n" + "x" * 6
    payload = F.when(F.col("id") == 0, F.concat(F.lit(header), F.repeat(F.lit("x"), 4096 * 4097))
                     ).otherwise(F.lit(small)).cast("binary")
    assets = spark.range(2).select(F.col("id").alias("asset_id"), F.lit("image").alias("kind"),
                                   payload.alias("payload"))
    big, pgm = extract_features(assets).orderBy("asset_id").collect()
    assert big["n_bytes"] == len(full)
    assert big["content_hash"] == hashlib.md5(full).hexdigest()
    assert (big["width"], big["height"], big["histogram"]) == (None, None, None)
    assert (pgm["width"], pgm["height"]) == (3, 2) and pgm["histogram"][7] == 1.0
