"""Minimal PDF text + layout extraction — pure stdlib, no PDF library.

The north rule's extraction pipeline covers "HTML boilerplate strip,
PDF/layout parse, DOM heuristics"; this module is the PDF leg.  Scope
is the text-bearing subset of PDF 1.4 that synthetic and simple
real-world documents use:

* objects located by scanning ``N G obj … endobj`` (no xref walk — the
  permissive posture of the HTML kernel applied to PDF: damaged xref
  tables are the PDF equivalent of unclosed tags); stream extents honor
  the dict's ``/Length`` when it lines up with an ``endstream``
  keyword, so compressed bodies containing the literal bytes
  ``endstream``/``endobj`` don't truncate (scan fallback otherwise);
* streams: raw or ``/FlateDecode`` (zlib — stdlib, a REAL codec path,
  unlike the multimodal image/audio stubs);
* text extraction from content streams: ``BT``/``ET`` blocks with
  ``Tf``/``Td``/``TD``/``Tm``/``T*`` cursor tracking and ``Tj``/``TJ``
  (kerning numbers ignored) show operators; PDF string escapes
  (``\\(`` ``\\)`` ``\\\\`` ``\\n`` ``\\r`` ``\\t`` ``\\ooo``) decoded;
* layout pass: runs are grouped into lines by quantized baseline y,
  lines ordered top-to-bottom (y descending — PDF y grows upward),
  runs within a line left-to-right by x; a column gap larger than
  ``column_gap`` starts a new segment so two-column pages read
  column-major like a human would.

A deterministic single-page generator (``synth_pdf``) produces the
test corpora; the DuckDB oracle reconstructs its expected text in
closed form, so extraction is value-checked end-to-end without any
external PDF dependency.
"""

from __future__ import annotations

import io
import re
import zlib
from bisect import bisect_right
from itertools import groupby
from typing import List, NamedTuple, Optional, Tuple

from . import MAX_DOC_BYTES

_OBJ_START_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")
_STREAM_BODY_RE = re.compile(rb"(.*?)\r?\nendstream", re.S)
_ENDSTREAM_AFTER_RE = re.compile(rb"\r?\n?endstream")
# direct integer /Length only — '/Length 3 0 R' is an indirect object
# REFERENCE whose number must not be mistaken for a byte length
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R\b)")
# text-showing + cursor operators inside BT/ET
_TOK_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"            # literal string
    rb"|\[|\]"
    rb"|-?\d+(?:\.\d+)?"
    rb"|BT|ET|Tj|TJ|Td|TD|Tm|T\*|Tf"
    rb"|/[A-Za-z0-9]+"
)
_ESC_RE = re.compile(rb"\\([0-7]{1,3}|.)", re.S)

_ESC_MAP = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}


def _unescape(raw: bytes) -> bytes:
    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g[:1].isdigit():
            return bytes([int(g, 8) & 0xFF])
        return _ESC_MAP.get(g, g)
    return _ESC_RE.sub(sub, raw)


class PdfRun(NamedTuple):
    y: float
    x: float
    text: str


class PdfExtract(NamedTuple):
    text: str
    lines: List[str]
    n_objects: int
    n_streams: int
    n_runs: int


def _iter_objects(data: bytes):
    """Yield ``(dict_part, stream_body | None)`` per ``N G obj`` object.

    A stream body is sliced by its dict's ``/Length`` when the entry
    parses as an integer AND the slice lands on an ``endstream``
    keyword (round-2 advice: a FlateDecode body containing the literal
    bytes ``endstream``/``endobj`` must not silently truncate the
    stream); only when ``/Length`` is absent or doesn't line up does
    the permissive scan to the first ``endstream`` apply.  The next
    object search resumes after the stream's real end, so byte
    sequences inside a length-delimited stream can't masquerade as
    object boundaries.  An unterminated stream runs to EOF — the PDF
    analog of the HTML kernel's unterminated-raw-text quirk.
    """
    pos = 0
    n = len(data)
    while pos < n:
        om = _OBJ_START_RE.search(data, pos)
        if om is None:
            return
        em = data.find(b"endobj", om.end())
        sm = _STREAM_START_RE.search(data, om.end())
        if sm is None or (em != -1 and em < sm.start()):
            # streamless object (or the next stream belongs to a later one)
            if em == -1:
                yield data[om.end():], None
                return
            yield data[om.end():em], None
            pos = em + len(b"endobj")
            continue
        dict_part = data[om.end():sm.start()]
        body_start = sm.end()
        body = None
        after = n
        lm = _LENGTH_RE.search(dict_part)
        if lm is not None:
            ln = int(lm.group(1))
            if body_start + ln <= n and _ENDSTREAM_AFTER_RE.match(data, body_start + ln):
                body = data[body_start:body_start + ln]
                after = body_start + ln
        if body is None:
            # Scan fallback, bounded by this object's own `endobj` (the
            # round-2 parser's behavior): an unterminated stream must
            # not swallow the next object's body wholesale.
            endpos = em if em != -1 else n
            bm = _STREAM_BODY_RE.match(data, body_start, endpos)
            if bm is not None:
                body = bm.group(1)
                after = bm.end()
            elif em != -1:
                # no endstream before endobj: streamless object, resume
                yield dict_part, None
                pos = em + len(b"endobj")
                continue
            else:
                # no endstream and no endobj: runs to EOF (permissive)
                yield dict_part, data[body_start:]
                return
        yield dict_part, body
        em2 = data.find(b"endobj", after)
        if em2 == -1:
            return
        pos = em2 + len(b"endobj")


def _decode_stream(dict_part: bytes, body: bytes, max_bytes: int) -> Optional[bytes]:
    """At most ``max_bytes`` (> 0) of the stream's content: the
    deflate-bomb guard, as deflate can expand ~1000:1.  Beyond it the
    stream truncates and the permissive contract continues with what
    decoded."""
    if b"/FlateDecode" in dict_part:
        # decompressobj tolerates truncated streams and trailing
        # garbage (returns the prefix that decoded) — the permissive
        # posture — and max_bytes caps the output regardless of the
        # declared ratio
        try:
            return zlib.decompressobj().decompress(body, max_bytes)
        except zlib.error:
            return None
    return body[:max_bytes]


def _decode_text(raw: bytes, encoding: str) -> str:
    """PDF literal strings carry bytes; decode per ``encoding``:

    * ``"auto"`` (default) — UTF-8 first, latin-1 fallback: correct for
      our generator (UTF-8) and for pure-ASCII real PDFs; a genuine
      latin-1 string whose bytes happen to form valid UTF-8 would be
      composed, so corpora known to be latin-1 should pass
      ``encoding="latin-1"`` explicitly (multi-byte characters split
      across two shows also need a fixed encoding);
    * any codec name — decoded with ``errors="replace"``, never raises.
    """
    if encoding == "auto":
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            return raw.decode("latin-1")
    return raw.decode(encoding, errors="replace")


def _runs_of_stream(data: bytes, encoding: str = "auto") -> Tuple[List[PdfRun], int]:
    """Walk one content stream's text operators; returns show-runs with
    their device-space baseline positions, and the number of shows.

    Cursor model: ``Tm`` sets (x, y) from its last two operands;
    ``Td``/``TD`` translate the LINE matrix (we track line start, and
    ``T*`` repeats the last ``TD`` leading, default 14); horizontal
    advance within a line is not modeled (run x = line-start x, which
    is enough for line assembly + left-to-right ordering of distinct
    columns).  A show at the previous show's exact (y, x) joins that
    run, its non-empty text appended after a space as the layout would
    join them, so a stream of shows at one position holds one run and
    one text buffer, not one object per show."""
    runs: List[PdfRun] = []
    at = None
    run_text = io.StringIO()  # the open run's non-empty texts, space-joined
    n_shows = 0
    in_text = False
    x = y = 0.0
    leading = 14.0
    stack_nums: List[float] = []
    pending: List[bytes] = []
    in_array = False
    for m in _TOK_RE.finditer(data):
        tok = m.group(0)
        if tok == b"BT":
            in_text, x, y = True, 0.0, 0.0
            stack_nums.clear()
            continue
        if tok == b"ET":
            in_text = False
            stack_nums.clear()
            continue
        if not in_text:
            continue
        if tok == b"[":
            in_array, pending = True, []
            continue
        if tok == b"]":
            in_array = False
            continue
        if tok.startswith(b"("):
            s = _unescape(tok[1:-1])
            if in_array:
                pending.append(s)
            else:
                pending = [s]
            continue
        if tok in (b"Tj", b"TJ"):
            text = _decode_text(b"".join(pending), encoding)
            n_shows += 1
            # empty shows still mark a baseline: keep them so blank
            # lines survive (dropping them breaks line counting)
            if at != (y, x):
                if at is not None:
                    runs.append(PdfRun(*at, run_text.getvalue()))
                at, run_text = (y, x), io.StringIO()
            if text:
                if run_text.tell():
                    run_text.write(" ")
                run_text.write(text)
            pending = []
            stack_nums.clear()
            continue
        if tok == b"Td":
            if len(stack_nums) >= 2:
                x += stack_nums[-2]
                y += stack_nums[-1]
            stack_nums.clear()
            continue
        if tok == b"TD":
            if len(stack_nums) >= 2:
                x += stack_nums[-2]
                y += stack_nums[-1]
                leading = -stack_nums[-1] if stack_nums[-1] != 0 else leading
            stack_nums.clear()
            continue
        if tok == b"Tm":
            if len(stack_nums) >= 6:
                x, y = stack_nums[-2], stack_nums[-1]
            stack_nums.clear()
            continue
        if tok == b"T*":
            y -= leading
            stack_nums.clear()
            continue
        if tok == b"Tf" or tok.startswith(b"/"):
            stack_nums.clear()
            continue
        # number operand (also TJ kerning values, ignored inside [])
        if not in_array:
            try:
                stack_nums.append(float(tok))
            except ValueError:
                pass
    if at is not None:
        runs.append(PdfRun(*at, run_text.getvalue()))
    return runs, n_shows


def extract_pdf_text(data: bytes, y_quantum: float = 2.0,
                     column_gap: float = 150.0,
                     encoding: str = "auto") -> PdfExtract:
    """Extract layout-ordered text from a PDF byte payload.

    Never raises on malformed input (mirrors the HTML kernel's
    permissive contract): unparseable streams contribute nothing.  The
    document's streams inflate to ``MAX_DOC_BYTES`` in total; the
    streams past that budget contribute nothing either.
    """
    runs: List[PdfRun] = []
    n_objects = n_streams = n_shows = 0
    budget = MAX_DOC_BYTES
    for dict_part, body in _iter_objects(data):
        n_objects += 1
        if body is None:
            continue
        n_streams += 1
        decoded = _decode_stream(dict_part, body, budget) if budget > 0 else None
        if decoded is None:
            continue
        budget -= len(decoded)
        if b"BT" in decoded:
            stream_runs, shows = _runs_of_stream(decoded, encoding)
            runs.extend(stream_runs)
            n_shows += shows

    # ---- layout pass ----
    # column segmentation: sort run x positions; a gap > column_gap
    # splits reading order into column-major segments.  A line joins
    # its non-empty runs left to right.
    xs = sorted({r.x for r in runs})
    col_edges = [b for a, b in zip(xs, xs[1:]) if b - a > column_gap]
    keyed = sorted(((bisect_right(col_edges, r.x), -round(r.y / y_quantum), r.x, r.text)
                    for r in runs), key=lambda k: k[:3])
    lines = [" ".join(k[3] for k in line if k[3])
             for _, line in groupby(keyed, key=lambda k: k[:2])]
    return PdfExtract("\n".join(lines), lines, n_objects, n_streams, n_shows)


# ---------------------------------------------------------------------------
# deterministic generator (test/oracle corpus)
# ---------------------------------------------------------------------------

def _pdf_escape(data: bytes) -> bytes:
    return (data.replace(b"\\", rb"\\")
            .replace(b"(", rb"\(").replace(b")", rb"\)"))


def synth_pdf(lines: List[str], compress: bool = True,
              start_y: int = 720, leading: int = 14, x: int = 72) -> bytes:
    """One-page PDF showing ``lines`` top-to-bottom at ``x``.

    Emits a well-formed xref so external tools could read it, though
    the extractor never needs it."""
    ops = [b"BT", b"/F1 12 Tf", b"%d %d Td" % (x, start_y)]
    for i, ln in enumerate(lines):
        if i > 0:
            ops.append(b"0 %d Td" % (-leading))
        # UTF-8 bytes in the literal string: round-trips the full
        # unicode range (the extractor decodes UTF-8-first)
        ops.append(b"(" + _pdf_escape(ln.encode("utf-8")) + b") Tj")
    ops.append(b"ET")
    content = b"\n".join(ops)
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d%s >>\nstream\n%s\nendstream" % (len(content), filt, content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, o in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + o + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref_at))
    return bytes(out)
