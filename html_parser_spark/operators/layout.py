"""PDF / layout extraction operators (the "PDF/layout parse" leg of
the extraction pipeline alongside the HTML kernel).

Same execution shape as html_ops: Arrow-batched ``Iterator[pd.Series]``
pandas UDFs around a pure-Python kernel (kernel/pdftext.py — real
object/stream/FlateDecode/text-operator parsing, stdlib only), map-only
over the document rows, no shuffle.  ``synth_pdf_udf`` builds a
deterministic one-page PDF around a text column so the DuckDB oracle
can state the expected extraction in closed form.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from ..kernel.pdftext import extract_pdf_text, synth_pdf

PDF_EXTRACT_SCHEMA = StructType([
    StructField("text", StringType(), True),
    StructField("n_lines", IntegerType(), True),
    StructField("n_objects", IntegerType(), True),
    StructField("n_streams", IntegerType(), True),
])

# synthetic page shape: header line, one body line, footer line
PDF_HEADER = "HEADER"
PDF_FOOTER = "FOOTER"


def synth_pdf_udf(compress: bool = True):
    """text column → one-page PDF bytes: HEADER / text / FOOTER."""

    @F.pandas_udf(BinaryType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            out: List[bytes] = []
            for v in s:
                if v is None:
                    out.append(None)
                else:
                    out.append(synth_pdf([PDF_HEADER, v, PDF_FOOTER], compress=compress))
            yield pd.Series(out)
    return udf


def pdf_extract_udf(max_doc_bytes: int = 64 * 1024 * 1024):
    """PDF payload → struct(text, n_lines, n_objects, n_streams).

    ``max_doc_bytes`` is the analog of the HTML path's ``MAX_DOC_BYTES``
    guard: pathological payloads are truncated before parsing (safe — the
    extractor is permissive and never raises)."""

    @F.pandas_udf(PDF_EXTRACT_SCHEMA)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in it:
            texts, nlines, nobjs, nstreams = [], [], [], []
            for v in s:
                if v is None:
                    texts.append(None)
                    nlines.append(None)
                    nobjs.append(None)
                    nstreams.append(None)
                    continue
                data = bytes(v)
                if len(data) > max_doc_bytes:
                    data = data[:max_doc_bytes]
                r = extract_pdf_text(data)
                texts.append(r.text)
                nlines.append(len(r.lines))
                nobjs.append(r.n_objects)
                nstreams.append(r.n_streams)
            yield pd.DataFrame({
                "text": texts, "n_lines": nlines,
                "n_objects": nobjs, "n_streams": nstreams,
            })
    return udf
