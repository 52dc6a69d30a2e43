"""Permissive HTML tokenizer + array-backed DOM builder.

Reimplements (from scratch, in Python) the observable semantics of the
reference parser:

* dispatch / tree construction  — reference src/html/parser.zig:41-365
* tag predicate tables           — reference src/html/tags.zig:27-313
* char-class tables              — reference src/html/tables.zig:24-54
* quote-aware scans / svg skip   — reference src/html/scanner.zig:23-123

The DOM is columnar: parallel Python lists indexed by node id in
document preorder (``subtree_end`` makes every subtree a contiguous
index range), exactly the layout the reference uses
(document.zig:56-73).  Hot scanning runs through C-speed primitives
(``bytes.find`` and precompiled regexes), never per-character Python
loops, so a batch of documents parses at tens of MB/s per core.

Pinned quirks (each has a dedicated test):
* malformed ``<div<div>`` keeps ``<`` in the tag name (tag-name state
  consumes everything but whitespace, ``/``, ``>``, NUL);
* explicit ``/>`` does NOT self-close regular elements — only the 14
  HTML void tags self-close (and ``<svg .../>``);
* ``script/style/title/textarea`` swallow raw text to a case-insensitive
  matching close tag, else to EOF; ``plaintext`` swallows to EOF;
* ``<svg>`` subtrees are skipped and stored as ONE opaque text child,
  nesting- and quote-aware;
* optional-close (``p li dt dd tr td th option head``) applies before
  the new element is appended;
* comments (incl. malformed ``<!-->``), ``<!...>`` and ``<?...?>``
  produce no nodes;
* only the first 8 bytes of a tag name are lowercased in the stored
  display name; matching is fully case-insensitive.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

INVALID = 0xFFFFFFFF

# Node kinds.
DOCUMENT = 0
ELEMENT = 1
TEXT = 2

# HTML whitespace set (note: NOT \x0b).
WS_BYTES = b" \t\n\r\x0c"
WS_SET = frozenset(WS_BYTES)

_WS_RE = re.compile(rb"[ \t\n\r\x0c]+")
# Tag-name state: everything but whitespace, '/', '>', NUL.
_TAGNAME_RE = re.compile(rb"[^ \t\n\r\x0c/>\x00]+")
# Tag-end scan targets: '>' or a quote.
_GTQ_RE = re.compile(rb"[>\"']")
# Fused open-tag scanner: optional whitespace, tag name, quote-aware
# attribute run, optional terminating '>' — one C-level regex call
# replaces ws-skip + name-match + find_tag_end on the open-tag path
# (throughput-neutral overall vs the split scans — the win on
# attr-heavy tags offsets the loss of the attr-less '>' short-circuit —
# kept for the simpler single-exit control flow; equivalence pinned by
# a 30k-input differential fuzz).  Group 3 empty ⇒ unterminated tag
# (EOF or unclosed quote) ⇒ fall back to the slow path.
_OPEN_FAST = re.compile(
    rb"""[ \t\n\r\x0c]*([^ \t\n\r\x0c/>\x00]+)((?:[^>"']|"[^"]*"|'[^']*')*)(>?)"""
)
# Fused closing-tag scanner: whitespace, name, junk-to-'>' (closing
# tags ignore quotes, parser.zig:296-365).
_CLOSE_FAST = re.compile(rb"[ \t\n\r\x0c]*([^ \t\n\r\x0c/>\x00]*)[^>]*(>?)")

VOID_TAGS = frozenset(
    (
        b"area", b"base", b"br", b"col", b"embed", b"hr", b"img",
        b"input", b"link", b"meta", b"param", b"source", b"track", b"wbr",
    )
)
RAW_TEXT_TAGS = frozenset((b"script", b"style", b"title", b"textarea"))
# Elements whose whole content is one opaque text child.
_OPAQUE_TAGS = RAW_TEXT_TAGS | frozenset((b"svg", b"plaintext"))

# Tags whose appearance auto-closes an open <p>.
_P_CLOSERS = frozenset(
    (
        b"p", b"hr", b"h1", b"h2", b"h3", b"h4", b"h5", b"h6",
        b"dl", b"ol", b"ul", b"div", b"nav", b"pre", b"form", b"main",
        b"aside", b"table", b"footer", b"header", b"address", b"article",
        b"section", b"fieldset", b"blockquote",
    )
)
# Open tags that can be implicitly closed.
IMPLICIT_CLOSE_SOURCES = frozenset(
    (b"p", b"li", b"dt", b"dd", b"tr", b"td", b"th", b"head", b"option")
)
# New tags that can trigger implicit closing at all (fast pre-filter).
_IMPLICIT_TRIGGERS = _P_CLOSERS | frozenset(
    (b"li", b"dt", b"dd", b"tr", b"td", b"th", b"option", b"body")
)

_DT_DD = frozenset((b"dt", b"dd"))
_TD_TH = frozenset((b"td", b"th"))


def _should_implicitly_close(open_tag: bytes, new_tag: bytes) -> bool:
    if open_tag == b"p":
        return new_tag in _P_CLOSERS
    if open_tag == b"li":
        return new_tag == b"li"
    if open_tag in _DT_DD:
        return new_tag in _DT_DD
    if open_tag == b"tr":
        return new_tag == b"tr"
    if open_tag in _TD_TH:
        return new_tag in _TD_TH
    if open_tag == b"head":
        return new_tag == b"body"
    if open_tag == b"option":
        return new_tag == b"option"
    return False


class Dom:
    """Columnar DOM: parallel arrays indexed by preorder node id.

    Matches the reference node record (document.zig:56-73): ``kind``,
    text/name span ``(start, end)``, ``attr_end``, ``parent``,
    ``prev_sibling`` (element chain only), ``last_child`` (elements
    only), ``subtree_end``.
    """

    __slots__ = (
        "source", "kind", "start", "end", "attr_end", "parent",
        "prev_sibling", "last_child", "subtree_end",
        "name_disp", "name_lower", "_attrs_cache", "_id_index",
        "_tag_index",
    )

    def __init__(self, source: bytes):
        self.source = source
        self.kind: List[int] = []
        self.start: List[int] = []
        self.end: List[int] = []
        self.attr_end: List[int] = []
        self.parent: List[int] = []
        self.prev_sibling: List[int] = []
        self.last_child: List[int] = []
        self.subtree_end: List[int] = []
        # Materialized element names: display form (first 8 bytes
        # lowercased, rest original case) and fully-lowercased form.
        self.name_disp: List[Optional[bytes]] = []
        self.name_lower: List[Optional[bytes]] = []
        self._attrs_cache: dict = {}
        # id value → first element index, built lazily on the first
        # #id queryOne (document.zig:570-617); None until then
        self._id_index: Optional[dict] = None
        # tag name → sorted element indexes, one entry built lazily per
        # tag queried (document.zig:619-670 ensureTagIndex spans)
        self._tag_index: dict = {}

    def __len__(self) -> int:
        return len(self.kind)

    def text_bytes(self, idx: int) -> bytes:
        return self.source[self.start[idx]:self.end[idx]]


def find_tag_end(source: bytes, start: int) -> Optional[Tuple[int, int]]:
    """Next unquoted ``>`` from ``start``; returns (gt_index, attr_end).

    Mirrors scanner.zig:23-48 — quoted segments are skipped whole;
    returns None when the tag never terminates.
    """
    s = start
    search = _GTQ_RE.search
    find = source.find
    while True:
        m = search(source, s)
        if m is None:
            return None
        e = m.start()
        ch = source[e]
        if ch == 0x3E:  # '>'
            return e, e
        q = find(source[e:e + 1], e + 1)
        if q < 0:
            return None
        s = q + 1


def is_explicit_self_closing(source: bytes, start: int, gt_index: int) -> bool:
    """True when the tag ends ``.../>`` (whitespace allowed before >)."""
    n = len(source)
    if gt_index == 0 or gt_index >= n or source[gt_index] != 0x3E:
        return False
    j = gt_index
    while j > start and source[j - 1] in WS_SET:
        j -= 1
    return j > start and source[j - 1] == 0x2F  # '/'


def find_svg_subtree_end(source: bytes, start: int) -> Optional[int]:
    """Index just past the matching ``</svg>`` or None (scanner.zig:62-123).

    Nesting-aware; self-closing nested ``<svg/>`` does not bump depth;
    ``<svg`` inside quoted attribute values is ignored via quote-aware
    tag-end scanning; comments/PI inside are skipped.
    """
    n = len(source)
    depth = 1
    i = start
    find = source.find
    while i < n:
        lt = find(b"<", i)
        if lt < 0 or lt + 1 >= n:
            return None
        k = lt + 1
        m = _WS_RE.match(source, k)
        if m:
            k = m.end()
        if k >= n:
            return None
        c = source[k]
        if c == 0x21:  # '!'
            if k + 2 < n and source[k + 1] == 0x2D and source[k + 2] == 0x2D:
                p = find(b"-->", k + 3)
                if p < 0:
                    return None
                i = p + 3
            else:
                gt = find(b">", k + 1)
                if gt < 0:
                    return None
                i = gt + 1
        elif c == 0x3F:  # '?'
            gt = find(b">", k + 1)
            if gt < 0:
                return None
            i = gt + 1
        elif c == 0x2F:  # '/'
            j = k + 1
            m = _WS_RE.match(source, j)
            if m:
                j = m.end()
            ns = j
            m2 = _TAGNAME_RE.match(source, j)
            if m2:
                j = m2.end()
            gt = find(b">", j)
            if gt < 0:
                return None
            if source[ns:j].lower() == b"svg":
                depth -= 1
                if depth == 0:
                    return gt + 1
            i = gt + 1
        else:
            m2 = _TAGNAME_RE.match(source, k)
            if m2 is None:
                i = lt + 1
                continue
            j = m2.end()
            te = find_tag_end(source, j)
            if te is None:
                return None
            gt, _ = te
            if source[k:j].lower() == b"svg" and not is_explicit_self_closing(source, j, gt):
                depth += 1
            i = gt + 1
    return None


def _find_raw_text_close(source: bytes, name_lower: bytes, start: int) -> Optional[Tuple[int, int]]:
    """Find case-insensitive ``</name [ws]* >``; returns (content_end, close_end)."""
    n = len(source)
    tag_len = len(name_lower)
    find = source.find
    j = find(b"<", start)
    while j >= 0 and j + 3 < n:
        if source[j + 1] == 0x2F:
            m = _TAGNAME_RE.match(source, j + 2)
            if m and (m.end() - (j + 2)) == tag_len and source[j + 2:m.end()].lower() == name_lower:
                k = m.end()
                wm = _WS_RE.match(source, k)
                if wm:
                    k = wm.end()
                if k < n and source[k] == 0x3E:
                    return j, k + 1
        j = find(b"<", j + 1)
    return None


def parse(source, drop_whitespace_text_nodes: bool = False) -> Dom:
    """Parse HTML bytes (or str) into a columnar :class:`Dom`.

    ``drop_whitespace_text_nodes`` mirrors the reference's "fastest"
    profile (document.zig:46-53): whitespace-only text nodes are not
    materialized.  Node 0 is always the document node.
    """
    if isinstance(source, str):
        source = source.encode("utf-8")
    n = len(source)
    dom = Dom(source)
    kind = dom.kind
    start_a = dom.start
    end_a = dom.end
    attr_end_a = dom.attr_end
    parent_a = dom.parent
    prev_a = dom.prev_sibling
    lastc_a = dom.last_child
    sub_a = dom.subtree_end
    nd = dom.name_disp
    nl = dom.name_lower

    def append_text(p: int, s: int, e: int) -> None:
        # Inlined text-node append (hot path; no sibling links —
        # parser.zig:384 links elements only).
        idx = len(kind)
        kind.append(TEXT)
        start_a.append(s)
        end_a.append(e)
        attr_end_a.append(0)
        parent_a.append(p)
        prev_a.append(INVALID)
        lastc_a.append(INVALID)
        sub_a.append(idx)
        nd.append(None)
        nl.append(None)

    # Document root.
    kind.append(DOCUMENT)
    start_a.append(0)
    end_a.append(0)
    attr_end_a.append(0)
    parent_a.append(INVALID)
    prev_a.append(INVALID)
    lastc_a.append(INVALID)
    sub_a.append(0)
    nd.append(None)
    nl.append(None)
    stack = [0]
    # name → how many open elements on ``stack`` carry it: a close tag
    # with nothing open by its name is dropped without a stack scan
    open_n: dict = {}

    find = source.find
    i = 0
    while i < n:
        if source[i] != 0x3C:  # not '<' → text run
            j = find(b"<", i)
            if j < 0:
                j = n
            if j > i:
                emit = True
                if drop_whitespace_text_nodes:
                    seg = source[i:j]
                    if seg[0] in WS_SET and seg[-1] in WS_SET and not seg.strip(WS_BYTES):
                        emit = False
                if emit:
                    append_text(stack[-1], i, j)
            i = j
            continue

        if i + 1 >= n:
            i += 1
            continue

        c2 = source[i + 1]
        if c2 == 0x2F:  # '</' — closing tag: pop to the nearest open match
            m = _CLOSE_FAST.match(source, i + 2)
            cname = m.group(1).lower()
            i = m.end() if m.group(2) else n
            if open_n.get(cname):
                last = len(kind) - 1
                while True:
                    idx = stack.pop()
                    sub_a[idx] = last
                    top_l = nl[idx]
                    open_n[top_l] -= 1
                    if top_l == cname:
                        break
            continue

        if c2 == 0x3F:  # '<?' — processing instruction, skipped
            p = find(b"?>", i + 2)
            i = n if p < 0 else p + 2
            continue

        if c2 == 0x21:  # '<!'
            if i + 3 < n and source[i + 2] == 0x2D and source[i + 3] == 0x2D:
                # comment (incl. malformed "<!-->")
                i += 4
                if i < n and source[i] == 0x3E:
                    i += 1
                else:
                    p = find(b"-->", i)
                    i = n if p < 0 else p + 3
            else:
                gt = find(b">", i + 2)
                i = n if gt < 0 else gt + 1
            continue

        # Opening tag (fused scan: ws + name + quote-aware attrs + '>').
        m = _OPEN_FAST.match(source, i + 1)
        if m is None:
            # no tag name after optional whitespace — advance past the
            # whitespace plus one char, as the unfused path did
            i += 1
            if i < n and source[i] in WS_SET:
                w = _WS_RE.match(source, i)
                i = w.end()
            i = min(i + 1, n)
            continue
        name_start = m.start(1)
        raw_name = m.group(1)
        i = m.end(1)
        name_l = raw_name.lower()
        # names <= 8 bytes: display form == fully-lowercased form
        name_disp = name_l if len(raw_name) <= 8 else raw_name[:8].lower() + raw_name[8:]

        if len(stack) > 1 and name_l in _IMPLICIT_TRIGGERS:
            while len(stack) > 1:
                top_l = nl[stack[-1]]
                if top_l not in IMPLICIT_CLOSE_SOURCES:
                    break
                if not _should_implicitly_close(top_l, name_l):
                    break
                idx = stack.pop()
                sub_a[idx] = len(kind) - 1
                open_n[top_l] -= 1

        attr_start = i
        if m.group(3):  # fused scan found the unquoted '>'
            gt = m.end() - 1
            a_end = gt
            i = m.end()
        else:
            # unterminated tag (EOF / unclosed quote): slow path
            te = find_tag_end(source, i)
            if te is None:
                a_end = n
                gt = n
                i = n
            else:
                gt, a_end = te
                i = gt + 1

        # inlined element append (hottest allocation site)
        p_idx = stack[-1]
        node_idx = len(kind)
        kind.append(ELEMENT)
        start_a.append(name_start)
        end_a.append(name_start + len(raw_name))
        attr_end_a.append(a_end)
        parent_a.append(p_idx)
        prev_a.append(lastc_a[p_idx])
        lastc_a[p_idx] = node_idx
        lastc_a.append(INVALID)
        sub_a.append(node_idx)
        nd.append(name_disp)
        nl.append(name_l)

        if len(raw_name) <= 6 and name_l in VOID_TAGS:
            continue
        if name_l not in _OPAQUE_TAGS:
            open_n[name_l] = open_n.get(name_l, 0) + 1
            stack.append(node_idx)
            continue
        if name_l == b"svg":
            if is_explicit_self_closing(source, attr_start, gt):
                continue
            close_end = find_svg_subtree_end(source, i)
            if close_end is None:
                content_end = close_end = n
            else:  # the content ends at the '<' of the closing </svg>
                content_end = source.rfind(b"<", i, close_end)
        elif name_l == b"plaintext":
            content_end = close_end = n
        else:
            content_end, close_end = _find_raw_text_close(source, name_l, i) or (n, n)
        # the content is one text child (a closed svg keeps an empty
        # one: <svg></svg> is 3 nodes), then the element closes
        if content_end > i or (close_end > content_end and name_l == b"svg"):
            append_text(node_idx, i, content_end)
        sub_a[node_idx] = len(kind) - 1
        i = close_end

    # EOF: close everything still open.
    last = len(kind) - 1
    while len(stack) > 1:
        idx = stack.pop()
        sub_a[idx] = last
    sub_a[0] = last
    return dom


def find_first_tag(dom: Dom, name: str) -> Optional[int]:
    """Linear case-insensitive scan for the first element named ``name``
    (document.zig:474-508)."""
    target = name.encode("utf-8").lower()
    nl = dom.name_lower
    for idx in range(1, len(dom.kind)):
        if dom.kind[idx] == ELEMENT and nl[idx] == target:
            return idx
    return None
