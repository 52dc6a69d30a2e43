"""PDF / layout extraction operators (the "PDF/layout parse" leg of
the extraction pipeline alongside the HTML kernel).

Same execution shape as html_ops: both operators are built on
``html_ops.doc_udf`` (null handling, ``MAX_DOC_BYTES`` truncation,
Arrow-batch assembly) around a pure-Python kernel (kernel/pdftext.py —
real object/stream/FlateDecode/text-operator parsing, stdlib only),
map-only over the document rows, no shuffle.  ``synth_pdf_udf`` builds
a deterministic one-page PDF around a text column so the DuckDB oracle
can state the expected extraction in closed form.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from ..kernel.pdftext import extract_pdf_text, synth_pdf
from .html_ops import doc_udf

PDF_EXTRACT_SCHEMA = StructType([
    StructField("text", StringType(), True),
    StructField("n_lines", IntegerType(), True),
    StructField("n_objects", IntegerType(), True),
    StructField("n_streams", IntegerType(), True),
])

# synthetic page shape: header line, one body line, footer line
PDF_HEADER = "HEADER"
PDF_FOOTER = "FOOTER"


def _synth_row(data: bytes) -> bytes:
    return synth_pdf([PDF_HEADER, data.decode("utf-8", "replace"), PDF_FOOTER])


def synth_pdf_udf():
    """text column → one-page PDF bytes (FlateDecode content stream):
    HEADER / text / FOOTER."""
    return doc_udf(BinaryType(), _synth_row)


def _extract_row(data: bytes) -> dict:
    r = extract_pdf_text(data)
    return {"text": r.text, "n_lines": len(r.lines),
            "n_objects": r.n_objects, "n_streams": r.n_streams}


def pdf_extract_udf():
    """PDF payload → struct(text, n_lines, n_objects, n_streams).
    Payloads over ``MAX_DOC_BYTES`` are truncated before parsing, as
    for every operator built on ``doc_udf`` (safe — the extractor is
    permissive and never raises)."""
    return doc_udf(PDF_EXTRACT_SCHEMA, _extract_row)
