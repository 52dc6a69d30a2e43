"""DOM → Markdown rendering (CommonMark-flavored).

A training-data pipeline companion to :mod:`extract`: where extraction
emits flat main-content text, this renders the *structure* of a
(sub)tree as Markdown — headings, paragraphs, lists, links, emphasis,
inline/fenced code, blockquotes, tables — so downstream corpora keep
document structure without keeping HTML.

The reference engine has no Markdown writer; this module builds purely
on its DOM semantics (the same columnar ``Dom`` the serializer and
innerText walk — reference node.zig:77-171 for the text traversal
contract) and mirrors ``kernel.text.inner_text``'s whitespace model:
inline text is entity-decoded first, then whitespace-collapsed across
node boundaries.

Scope decisions (documented, pinned by tests):

* Markdown metacharacters in source text are NOT escaped — the
  renderer targets corpus preparation (lossy by design), not
  roundtripping.  Escaping would corrupt the dominant use (plain prose).
* ``<pre>`` bodies keep raw (entity-decoded, non-collapsed) text inside
  a fenced block.
* ``<br>`` renders as a newline within its block.
* Unknown/neutral elements (``span``, ``font``, custom elements …) are
  transparent inline wrappers; unknown block-ish containers
  (``div section article main header footer aside`` …) just promote
  their children to blocks.
* ``script``/``style``/``template``/``head`` subtrees contribute
  nothing (raw-text payloads are code, not prose).
* Tables render as GitHub pipe tables; the first row is the header row
  (markdown requires one), each cell inline-rendered.
"""

from __future__ import annotations

from typing import List

from .attrs import get_attr
from .entities import decode_entities
from .htmlparse import DOCUMENT, ELEMENT, TEXT, Dom
from .text import inner_text, normalize_ws

# Tags whose subtree is dropped entirely.
_DROP = frozenset((b"script", b"style", b"template", b"head", b"title",
                   b"noscript"))

# Tags that open a block context (handled explicitly in _render_blocks).
_BLOCK = frozenset((
    b"p", b"h1", b"h2", b"h3", b"h4", b"h5", b"h6", b"ul", b"ol", b"li",
    b"blockquote", b"pre", b"hr", b"table", b"div", b"section",
    b"article", b"main", b"header", b"footer", b"nav", b"aside",
    b"figure", b"figcaption", b"details", b"summary", b"form",
    b"fieldset", b"address", b"dl", b"dt", b"dd",
))

_HEADINGS = {b"h1": 1, b"h2": 2, b"h3": 3, b"h4": 4, b"h5": 5, b"h6": 6}

_STRONG = frozenset((b"strong", b"b"))
_EM = frozenset((b"em", b"i"))

#: poison-pill guard for pathologically nested pages (the renderer
#: recurses per DOM level; the extraction kernel is iterative and
#: unaffected).  Subtrees nested deeper than this render as their
#: flat, whitespace-collapsed innerText via the ITERATIVE kernel walk
#: — structure (and drop-tag filtering) degrades, the task never dies
#: with RecursionError.  200 levels x ~3 Python frames stays well
#: under CPython's 1000-frame default; real documents rarely exceed
#: ~30 levels.
MAX_RENDER_DEPTH = 200


def _children(dom: Dom, parent_idx: int) -> List[int]:
    """Direct-child node indexes (same walk the serializer uses)."""
    out: List[int] = []
    end = dom.subtree_end[parent_idx]
    idx = parent_idx + 1
    n = len(dom.kind)
    while idx <= end and idx < n:
        if dom.parent[idx] != parent_idx:
            idx += 1
            continue
        out.append(idx)
        nxt = dom.subtree_end[idx] + 1
        idx = nxt if nxt > idx else idx + 1
    return out


def _text(dom: Dom, idx: int, normalize: bool = False) -> str:
    """Entity-decoded text of node ``idx``'s subtree (of the node itself
    for a text node), whitespace-collapsed when ``normalize``."""
    return inner_text(dom, idx, normalize).decode("utf-8", "replace")


def _decoded_attr(dom: Dom, idx: int, name: str) -> str:
    """Attribute value as text; ``get_attr`` has already decoded it."""
    v = get_attr(dom, idx, name)
    return "" if v is None else v.decode("utf-8", "replace")


def _inline(dom: Dom, idx: int, out: List[str], depth: int = 0) -> None:
    """Render node ``idx`` into the current inline buffer."""
    k = dom.kind[idx]
    if k == TEXT:
        out.append(decode_entities(dom.text_bytes(idx)).decode("utf-8", "replace"))
        return
    if k != ELEMENT:
        return
    name = dom.name_lower[idx]
    if name in _DROP:
        return
    if depth >= MAX_RENDER_DEPTH:
        out.append(_text(dom, idx, True))
        return
    if name == b"br":
        out.append("\x00")  # placeholder: survives collapse, becomes \n
        return
    if name == b"img":
        out.append("![%s](%s)" % (_decoded_attr(dom, idx, "alt"),
                                  _decoded_attr(dom, idx, "src")))
        return
    if name == b"a":
        inner: List[str] = []
        for c in _children(dom, idx):
            _inline(dom, c, inner, depth + 1)
        out.append("[%s](%s)" % ("".join(inner),
                                 _decoded_attr(dom, idx, "href")))
        return
    if name in _STRONG or name in _EM or name == b"code":
        marker = "**" if name in _STRONG else ("*" if name in _EM else "`")
        inner = []
        for c in _children(dom, idx):
            _inline(dom, c, inner, depth + 1)
        body = "".join(inner)
        # empty emphasis renders as nothing (``****`` is not markdown)
        out.append(marker + body + marker if body else "")
        return
    # transparent inline wrapper (span, u, custom elements, …)
    for c in _children(dom, idx):
        _inline(dom, c, out, depth + 1)


def _collapse(parts: List[str]) -> str:
    """Whitespace-collapse an inline run; \\x00 placeholders → newlines."""
    raw = "".join(parts)
    text = normalize_ws(raw.encode("utf-8")).decode("utf-8", "replace")
    # <br> placeholder: strip spaces it absorbed around itself
    text = text.replace(" \x00", "\x00").replace("\x00 ", "\x00")
    return text.replace("\x00", "\n").strip("\n")


def _indent(block: str, prefix: str, first: str) -> str:
    lines = block.split("\n")
    out = [first + lines[0]]
    out.extend(prefix + ln if ln else prefix.rstrip() for ln in lines[1:])
    return "\n".join(out)


def _render_list(dom: Dom, idx: int, ordered: bool, depth: int = 0) -> str:
    items: List[str] = []
    n = 0
    for c in _children(dom, idx):
        if dom.kind[c] != ELEMENT or dom.name_lower[c] != b"li":
            continue
        n += 1
        body = "\n\n".join(_render_blocks(dom, _children(dom, c), depth + 1)) or ""
        bullet = f"{n}. " if ordered else "- "
        cont = " " * len(bullet)
        items.append(_indent(body, cont, bullet))
    return "\n".join(items)


def table_rows(dom: Dom, idx: int, depth: int = 0) -> List[List[str]]:
    """Structured extraction of a ``<table>`` subtree: one list per
    ``<tr>`` (section wrappers thead/tbody/tfoot are transparent), one
    inline-rendered, whitespace-collapsed string per ``<td>``/``<th>``.
    Ragged rows are returned as-is (padding is the renderer's concern).
    Shared by the Markdown pipe-table renderer and the
    ``table_cells_udf`` relational extractor."""
    rows: List[List[str]] = []
    # explicit preorder stack: wrapper nesting depth is input-controlled
    stack = _children(dom, idx)[::-1]
    while stack:
        c = stack.pop()
        if dom.kind[c] != ELEMENT:
            continue
        nm = dom.name_lower[c]
        if nm in (b"thead", b"tbody", b"tfoot"):
            stack.extend(reversed(_children(dom, c)))
        elif nm == b"tr":
            cells: List[str] = []
            for cc in _children(dom, c):
                if dom.kind[cc] == ELEMENT and dom.name_lower[cc] in (b"td", b"th"):
                    buf: List[str] = []
                    for g in _children(dom, cc):
                        _inline(dom, g, buf, depth + 1)
                    cells.append(_collapse(buf).replace("\n", " "))
            rows.append(cells)
    return rows


def _render_table(dom: Dom, idx: int, depth: int = 0) -> str:
    rows = table_rows(dom, idx, depth)
    if not rows:
        return ""
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    lines = ["| " + " | ".join(rows[0]) + " |",
             "| " + " | ".join(["---"] * width) + " |"]
    lines.extend("| " + " | ".join(r) + " |" for r in rows[1:])
    return "\n".join(lines)


def _render_blocks(dom: Dom, child_idxs: List[int],
                   depth: int = 0) -> List[str]:
    """Render a child list: inline runs become paragraphs; block
    elements flush the run and render themselves.  Beyond
    ``MAX_RENDER_DEPTH`` each child renders as its flat innerText."""
    blocks: List[str] = []
    run: List[str] = []

    if depth >= MAX_RENDER_DEPTH:
        for c in child_idxs:
            t = _collapse([_text(dom, c, True)])
            if t:
                blocks.append(t)
        return blocks

    def flush() -> None:
        if run:
            text = _collapse(run)
            run.clear()
            if text:
                blocks.append(text)

    for c in child_idxs:
        k = dom.kind[c]
        name = dom.name_lower[c] if k == ELEMENT else None
        if k == ELEMENT and name in _DROP:
            continue
        if k != ELEMENT or name not in _BLOCK:
            _inline(dom, c, run, depth)
            continue
        flush()
        if name in _HEADINGS:
            buf: List[str] = []
            for g in _children(dom, c):
                _inline(dom, g, buf, depth + 1)
            text = _collapse(buf).replace("\n", " ")
            if text:
                blocks.append("#" * _HEADINGS[name] + " " + text)
        elif name == b"p" or name in (b"figcaption", b"summary", b"dt",
                                      b"dd", b"li"):
            # bare <li> outside a list renders as its paragraph content
            sub = _render_blocks(dom, _children(dom, c), depth + 1)
            blocks.extend(sub)
        elif name == b"ul":
            t = _render_list(dom, c, ordered=False, depth=depth + 1)
            if t:
                blocks.append(t)
        elif name == b"ol":
            t = _render_list(dom, c, ordered=True, depth=depth + 1)
            if t:
                blocks.append(t)
        elif name == b"blockquote":
            sub = "\n\n".join(_render_blocks(dom, _children(dom, c), depth + 1))
            if sub:
                blocks.append("\n".join(
                    ("> " + ln).rstrip() for ln in sub.split("\n")))
        elif name == b"pre":
            body = _text(dom, c).strip("\n")
            blocks.append("```\n" + body + "\n```")
        elif name == b"hr":
            blocks.append("---")
        elif name == b"table":
            t = _render_table(dom, c, depth + 1)
            if t:
                blocks.append(t)
        else:  # div/section/article/… and any other block wrapper
            blocks.extend(_render_blocks(dom, _children(dom, c), depth + 1))
    flush()
    return blocks


def to_markdown(dom: Dom, idx: int = 0) -> str:
    """Render node ``idx``'s subtree (default: whole document) as
    Markdown.  Blocks are joined by blank lines; output has no
    trailing newline."""
    k = dom.kind[idx]
    if k == TEXT:
        return _collapse([_text(dom, idx)])
    if k == DOCUMENT:
        kids = _children(dom, idx)
    elif dom.name_lower[idx] in _DROP:
        return ""
    else:
        kids = [idx]  # let the block dispatcher classify the node itself
    return "\n\n".join(_render_blocks(dom, kids))
