"""Hostile inputs: the kernels' work stays bounded in time and memory.

Each case calls a row function directly, without Spark, on an input
built to hit one unbounded path: a quadratic loop or an uncapped
decode.  CPU time is the process's own (``time.process_time``), so a
loaded machine slows a case down without failing it.
"""

import time
import tracemalloc
import zlib

from html_parser_spark.kernel import MAX_DOC_BYTES, pdftext
from html_parser_spark.kernel.extract import extract_main
from html_parser_spark.kernel.htmlparse import parse


def _cpu_s(fn, *args):
    t0 = time.process_time()
    fn(*args)
    return time.process_time() - t0


def _pdf(streams):
    out = b"%PDF-1.4\n"
    for i, s in enumerate(streams, 1):
        out += (b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
                % (i, len(s)) + s + b"\nendstream\nendobj\n")
    return out


def test_unmatched_close_tags_parse_in_linear_time():
    """20k open elements, then 20k close tags naming none of them: a
    close tag that scans the open-element stack makes this quadratic
    (~11 s of parse)."""
    doc = b"<div>" * 20000 + b"</x>" * 20000
    assert _cpu_s(parse, doc) < 2.0
    assert _cpu_s(extract_main, doc) < 2.0
    dom = parse(doc)
    assert len(dom) == 20001 and dom.subtree_end[1] == 20000


def test_pdf_layout_of_one_huge_stream_is_linear():
    """One stream inflating to 8 MiB of one-letter shows on one
    baseline, each a step to the right of the last, so each is its own
    run: joining a line's ~600k runs by repeated concatenation is
    quadratic."""
    show = b"(a) Tj 1 0 Td\n"
    stream = zlib.compress(b"BT\n" + show * (8 * 1024 * 1024 // len(show)) + b"ET", 9)
    t0 = time.process_time()
    r = pdftext.extract_pdf_text(_pdf([stream]))
    assert time.process_time() - t0 < 15.0
    assert r.n_runs == 8 * 1024 * 1024 // len(show)
    assert r.lines == [" ".join(["a"] * r.n_runs)]


def test_pdf_shows_at_one_position_hold_one_run():
    """2 MiB content streams of shows at one position, one-letter,
    multi-letter and kerned.  One run object per show peaks at 7 to 12
    bytes per stream byte in the walk (~34 for the whole document with
    its layout: ~600 MiB at the 16 MiB inflate budget); a str per show
    kept in one run peaks at up to 5.3.  One run with one text buffer
    peaks at 0.7 to 2.4.  The inflate's own buffers are zlib's and are
    not measured here."""
    for show, text in ((b"(a) Tj\n", "a"), (b"(abcdefgh) Tj\n", "abcdefgh"),
                       (b"[(ab) -20 (cd)] TJ\n", "abcd")):
        n = 2 * 1024 * 1024 // len(show)
        body = b"BT\n" + show * n + b"ET"
        tracemalloc.start()
        try:
            runs, n_shows = pdftext._runs_of_stream(body)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 4 * len(body), (show, peak / len(body))
        assert n_shows == n and runs == [(0.0, 0.0, " ".join([text] * n))]


def test_pdf_inflates_at_most_max_doc_bytes_per_document(monkeypatch):
    """Three streams of 64 MiB each: the inflate budget is the
    document's, so their decoded bytes total at most MAX_DOC_BYTES."""
    decode = pdftext._decode_stream
    inflated = []

    def counting(dict_part, body, max_bytes):
        out = decode(dict_part, body, max_bytes)
        inflated.append(0 if out is None else len(out))
        return out

    monkeypatch.setattr(pdftext, "_decode_stream", counting)
    stream = zlib.compress(b"\x00" * (64 * 1024 * 1024), 9)
    r = pdftext.extract_pdf_text(_pdf([stream] * 3))
    assert r.n_streams == 3
    assert 0 < sum(inflated) <= MAX_DOC_BYTES
