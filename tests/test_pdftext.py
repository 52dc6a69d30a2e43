"""PDF/layout extraction kernel + operator (kernel/pdftext.py,
operators/layout.py): generator round-trip, escapes, Flate and raw
streams, layout reordering, column-major reading order, TJ/Tm/T*,
malformed-input permissiveness, and the Spark UDF path."""

import zlib

import pytest

from html_parser_spark.kernel.pdftext import extract_pdf_text, synth_pdf


def _one_stream_pdf(content: bytes, flate: bool = False) -> bytes:
    if flate:
        content = zlib.compress(content)
        head = b"<< /Length " + str(len(content)).encode() + b" /Filter /FlateDecode >>"
    else:
        head = b"<< /Length " + str(len(content)).encode() + b" >>"
    return (b"1 0 obj\n" + head + b"\nstream\n" + content
            + b"\nendstream\nendobj\n")


def test_synth_roundtrip_with_escapes():
    lines = ["HEADER", "Hello (world) \\ test", "FOOTER"]
    for compress in (True, False):
        r = extract_pdf_text(synth_pdf(lines, compress=compress))
        assert r.lines == lines
        assert r.n_objects == 5 and r.n_streams == 1 and r.n_runs == 3


def test_layout_reorders_by_y():
    content = (b"BT /F1 12 Tf 72 50 Td (FOOT) Tj ET\n"
               b"BT /F1 12 Tf 72 720 Td (HEAD) Tj ET")
    r = extract_pdf_text(_one_stream_pdf(content, flate=True))
    assert r.lines == ["HEAD", "FOOT"]  # stream order was FOOT first


def test_two_columns_read_column_major():
    content = (b"BT 300 700 Td (R1) Tj 0 -14 Td (R2) Tj ET"
               b"BT 72 700 Td (L1) Tj 0 -14 Td (L2) Tj ET")
    r = extract_pdf_text(_one_stream_pdf(content))
    assert r.lines == ["L1", "L2", "R1", "R2"]


def test_tj_array_tm_and_tstar():
    content = b"BT 1 0 0 1 72 700 Tm [(ab) -120 (cd)] TJ T* (ef) Tj ET"
    r = extract_pdf_text(_one_stream_pdf(content))
    assert r.lines == ["abcd", "ef"]


def test_same_line_runs_join_left_to_right():
    content = b"BT 200 700 Td (right) Tj ET BT 72 700 Td (left) Tj ET"
    r = extract_pdf_text(_one_stream_pdf(content))
    assert r.lines == ["left right"]


def test_length_entry_protects_embedded_keywords():
    """Round-3 advice fix: a stream body containing the literal bytes
    'endstream'/'endobj' must not truncate when /Length lines up."""
    content = (b"BT 72 700 Td (A) Tj ET\nendstream\nendobj\n"
               b"BT 72 650 Td (B) Tj ET")
    for flate in (False, True):
        r = extract_pdf_text(_one_stream_pdf(content, flate=flate))
        assert r.lines == ["A", "B"]
        assert r.n_objects == 1 and r.n_streams == 1


def test_bad_length_falls_back_to_endstream_scan():
    content = b"BT 72 700 Td (C) Tj ET"
    pdf = (b"1 0 obj\n<< /Length 9999 >>\nstream\n" + content
           + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf).lines == ["C"]
    pdf2 = (b"1 0 obj\n<< /Length abc >>\nstream\n" + content
            + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf2).lines == ["C"]


def test_unterminated_stream_does_not_swallow_next_object():
    """Second-pass review finding: an object whose stream has no
    endstream before its endobj must not scan past it and merge the
    NEXT object's stream into its own body (the pre-round-3 parser
    recovered the second object; the bounded scan preserves that)."""
    pdf = (b"1 0 obj\n<< >>\nstream\nAAA\nendobj\n"
           b"2 0 obj\n<< >>\nstream\nBT 72 700 Td (OK) Tj ET\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)
    assert r.lines == ["OK"]
    assert r.n_objects == 2 and r.n_streams == 1


def test_indirect_length_reference_is_not_a_byte_count():
    """Review finding: '/Length 3 0 R' is an indirect object reference
    — its object number must not be used as the stream length (and the
    regex must not backtrack '30 0 R' into length 3)."""
    content = b"BT 72 700 Td (D) Tj ET"
    for ref in (b"3 0 R", b"30 0 R"):
        pdf = (b"1 0 obj\n<< /Length " + ref + b" >>\nstream\n" + content
               + b"\nendstream\nendobj\n")
        assert extract_pdf_text(pdf).lines == ["D"]


def test_octal_escapes():
    content = b"BT 72 700 Td (\\101\\102\\103) Tj ET"
    r = extract_pdf_text(_one_stream_pdf(content))
    assert r.lines == ["ABC"]


@pytest.mark.parametrize("garbage", [
    b"", b"not a pdf at all",
    b"1 0 obj\nstream\n\x00\xff\nendstream\nendobj",          # binary junk
    b"1 0 obj\n<< /Filter /FlateDecode >>\nstream\nXX\nendstream\nendobj",  # bad zlib
    b"1 0 obj\n<< >>\nstream\nBT (unclosed",                   # truncated
])
def test_never_raises_on_malformed(garbage):
    r = extract_pdf_text(garbage)
    assert r.text == "" or isinstance(r.text, str)


def test_fuzz_mutations_never_raise():
    """Random byte mutations of a valid PDF must never raise and must
    keep outputs well-typed (the HTML kernel's permissive contract)."""
    import random

    random.seed(7)
    base = bytearray(synth_pdf(["HEADER", "some body text here", "FOOTER"]))
    for _ in range(2000):
        mutated = bytearray(base)
        for _k in range(random.randint(1, 8)):
            pos = random.randrange(len(mutated))
            mutated[pos] = random.randrange(256)
        r = extract_pdf_text(bytes(mutated))
        assert isinstance(r.text, str) and r.n_objects >= 0


def test_spark_pdf_udfs(spark):
    from pyspark.sql import functions as F

    from html_parser_spark.operators.layout import pdf_extract_udf, synth_pdf_udf

    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma (x)"), (2, None)], ["doc_id", "text"]
    )
    out = (
        df.withColumn("_ex", pdf_extract_udf()(synth_pdf_udf()(F.col("text"))))
        .select("doc_id", "_ex.text", "_ex.n_lines", "_ex.n_objects")
        .orderBy("doc_id")
        .collect()
    )
    assert out[0]["text"] == "HEADER\nalpha beta\nFOOTER" and out[0]["n_lines"] == 3
    assert out[1]["text"] == "HEADER\ngamma (x)\nFOOTER"
    assert out[0]["n_objects"] == 5
    assert out[2]["text"] is None


def test_flate_bomb_output_capped():
    """Deflate expands up to ~1000:1 — a 1 MB stream claiming ~1 GB of
    output must decode bounded (MAX_DOC_BYTES), not OOM the
    executor.  The permissive contract continues with the decoded
    prefix."""
    import zlib

    from html_parser_spark.kernel import MAX_DOC_BYTES
    from html_parser_spark.kernel.pdftext import _decode_stream, extract_pdf_text

    bomb = zlib.compress(b"\x00" * (256 * 1024 * 1024), 9)
    out = _decode_stream(b"<< /Filter /FlateDecode >>", bomb, MAX_DOC_BYTES)
    assert len(out) == MAX_DOC_BYTES  # capped, not 256 MB
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
           + str(len(bomb)).encode() + b" >>\nstream\n" + bomb
           + b"\nendstream\nendobj\n")
    r = extract_pdf_text(pdf)          # must not raise / blow memory
    assert r.n_streams == 1
