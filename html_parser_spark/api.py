"""User-facing single-document API, mirroring the reference's
``Document`` / ``Node`` surface 1:1 (Python naming) so a user of the
reference can switch directly.  The Spark operators in
``operators/`` are compositions of exactly these calls applied per
Arrow batch.

Reference-name mapping (src/html/document.zig, src/html/node.zig):

| Reference | Here |
|---|---|
| ``Document.parse(input, opts)`` | ``Document.parse(html, drop_whitespace_text_nodes=...)`` |
| ``doc.queryOne/queryOneRuntime/queryOneCached`` | ``doc.query_one(sel)`` (str → runtime compile, ``Selector`` → cached) |
| ``doc.queryAll/queryAllRuntime`` | ``doc.query_all(sel)`` |
| ``doc.queryOneRuntimeDebug`` | ``doc.query_one_debug(sel)`` |
| ``doc.nodeAt(i)`` | ``doc.node_at(i)`` |
| ``doc.html()/head()/body()`` | ``doc.html()/head()/body()`` |
| ``node.getAttributeValue`` | ``node.get_attribute_value`` (entity-decoded at query time) |
| ``node.innerText`` | ``node.inner_text()`` (normalized) |
| ``node.innerTextWithOptions(.{.normalize_whitespace=false})`` | ``node.inner_text(normalize_whitespace=False)`` |
| ``node.innerTextOwned`` | same as ``inner_text`` (Python always materializes) |
| ``node.firstChild/lastChild/nextSibling/prevSibling/parentNode`` | same, snake_case |
| ``node.children()`` iterator | ``node.children()`` list |
| ``node.writeHtml/writeHtmlSelf`` | ``node.outer_html()`` |
| ``node.matches(sel)`` (matchesSelectorAt) | ``node.matches(sel)`` |
"""

from __future__ import annotations

from typing import List, Optional, Union

from .kernel.attrs import get_attr
from .kernel.htmlparse import Dom, ELEMENT, INVALID, find_first_tag, parse
from .kernel.matcher import (
    matches_at, next_element_sibling, parent_element, prev_element_sibling,
    query_all, query_one,
)
from .kernel.matcher_debug import QueryDebugReport, explain_first_match
from .kernel.selector import Selector, SelectorError, compile_selector
from .kernel.serialize import write_html
from .kernel.text import inner_text

SelectorLike = Union[str, Selector]


def _compile_debug(sel: SelectorLike) -> Selector:
    """Compile for the debug query family: parse failures raise
    SelectorError carrying a report with ``runtime_parse_error`` set
    (the reference both errors AND fills the report —
    document.zig:1911-1923)."""
    try:
        return compile_selector(sel)
    except SelectorError as e:
        rpt = QueryDebugReport(selector_source=sel, runtime_parse_error=True)
        e.report = rpt
        raise


class Node:
    """Index-backed view into a document's columnar node arrays —
    the analog of the reference's ``Node{doc, index}`` wrapper
    (document.zig:511-517).  Creating one allocates nothing but the
    wrapper itself."""

    __slots__ = ("doc", "index")

    def __init__(self, doc: "Document", index: int):
        self.doc = doc
        self.index = index

    # -- identity ----------------------------------------------------------
    @property
    def tag_name(self) -> Optional[str]:
        """Display name: first 8 bytes lowercased, rest original case
        (parser.zig:142-152)."""
        d = self.doc.dom.name_disp[self.index]
        return None if d is None else d.decode("utf-8", errors="replace")

    @property
    def is_element(self) -> bool:
        return self.doc.dom.kind[self.index] == ELEMENT

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Node)
            and other.doc is self.doc
            and other.index == self.index
        )

    def __hash__(self) -> int:
        # keep Node usable in sets/dicts (value-type semantics like the
        # reference's Node; __eq__ alone would set __hash__ to None)
        return hash((id(self.doc), self.index))

    def __repr__(self) -> str:
        return f"Node({self.tag_name or 'text'}@{self.index})"

    # -- attributes / text -------------------------------------------------
    def get_attribute_value(self, name: str) -> Optional[str]:
        """Entity-decoded attribute value; None when absent; empty
        string for boolean attrs and ``a=`` (attr_inline.zig:35-103)."""
        v = get_attr(self.doc.dom, self.index, name)
        return None if v is None else v.decode("utf-8", errors="replace")

    def inner_text(self, normalize_whitespace: bool = True) -> str:
        """Concatenated text descendants, entity-decoded, optionally
        whitespace-normalized across node boundaries (node.zig:77-171)."""
        return inner_text(self.doc.dom, self.index, normalize_whitespace).decode(
            "utf-8", errors="replace")

    def outer_html(self, materialized: bool = False) -> str:
        """HTML serialization of this subtree (node.zig:174-311);
        ``materialized=True`` gives the reference's post-query form
        (decoded text, re-quoted escaped attrs)."""
        return write_html(self.doc.dom, self.index, materialized=materialized) \
            .decode("utf-8", errors="replace")

    def outer_html_self(self, materialized: bool = False) -> str:
        """Own tag only, children excluded — writeHtmlSelf
        (root.zig:219-238)."""
        from .kernel.serialize import write_html_self

        return write_html_self(self.doc.dom, self.index, materialized=materialized) \
            .decode("utf-8", errors="replace")

    # -- navigation (element-only, like the reference) ---------------------
    def parent_node(self) -> Optional["Node"]:
        p = parent_element(self.doc.dom, self.index)
        return None if p is None else Node(self.doc, p)

    def first_child(self) -> Optional["Node"]:
        """First ELEMENT child via idx+1 adjacency + text-run skip
        (document.zig:717-744)."""
        dom = self.doc.dom
        j = self.index + 1
        end = dom.subtree_end[self.index]
        while j <= end:
            if dom.kind[j] == ELEMENT:
                return Node(self.doc, j)
            j = dom.subtree_end[j] + 1
        return None

    def last_child(self) -> Optional["Node"]:
        lc = self.doc.dom.last_child[self.index]
        return None if lc == INVALID else Node(self.doc, lc)

    def prev_sibling(self) -> Optional["Node"]:
        p = prev_element_sibling(self.doc.dom, self.index)
        return None if p is None else Node(self.doc, p)

    def next_sibling(self) -> Optional["Node"]:
        n = next_element_sibling(self.doc.dom, self.index)
        return None if n is None else Node(self.doc, n)

    def children(self) -> List["Node"]:
        """Direct element children in document order
        (document.zig:262-290)."""
        out = []
        c = self.first_child()
        while c is not None:
            out.append(c)
            c = c.next_sibling()
        return out

    # -- scoped queries ----------------------------------------------------
    def query_one(self, sel: SelectorLike) -> Optional["Node"]:
        idx = query_one(self.doc.dom, compile_selector(sel), scope_root=self.index)
        return None if idx is None else Node(self.doc, idx)

    def query_all(self, sel: SelectorLike) -> List["Node"]:
        return [Node(self.doc, i)
                for i in query_all(self.doc.dom, compile_selector(sel), scope_root=self.index)]

    def query_one_debug(self, sel: SelectorLike):
        """Scoped debug query: (first match in this subtree or None,
        QueryDebugReport) — node-level member of the debug query family
        (DOCUMENTATION.md "Scoped queries")."""
        rpt = explain_first_match(self.doc.dom, _compile_debug(sel), scope_root=self.index)
        node = None if rpt.matched_index == INVALID else Node(self.doc, rpt.matched_index)
        return node, rpt

    def matches(self, sel: SelectorLike) -> bool:
        """matchesSelectorAt (matcher.zig:34-41)."""
        return matches_at(self.doc.dom, compile_selector(sel), self.index)


class Document:
    """Parsed document owning the columnar DOM."""

    __slots__ = ("dom",)

    def __init__(self, dom: Dom):
        self.dom = dom

    @classmethod
    def parse(cls, html: Union[str, bytes],
              drop_whitespace_text_nodes: bool = False) -> "Document":
        """``drop_whitespace_text_nodes=True`` is the reference's
        "fastest" profile; False is "strictest" (document.zig:46-53).
        Never raises on malformed input."""
        return cls(parse(html, drop_whitespace_text_nodes=drop_whitespace_text_nodes))

    # -- queries -----------------------------------------------------------
    def query_one(self, sel: SelectorLike) -> Optional[Node]:
        idx = query_one(self.dom, compile_selector(sel))
        return None if idx is None else Node(self, idx)

    def query_all(self, sel: SelectorLike) -> List[Node]:
        return [Node(self, i) for i in query_all(self.dom, compile_selector(sel))]

    def query_one_debug(self, sel: SelectorLike):
        """(first match or None, QueryDebugReport) — the
        queryOneRuntimeDebug analog (document.zig + matcher_debug.zig).

        An invalid selector string raises :class:`SelectorError` (the
        reference raises InvalidSelector) with a ``.report`` attribute
        whose ``runtime_parse_error`` is set and ``selector_source``
        echoes the bad source (document.zig:1911-1923)."""
        rpt: QueryDebugReport = explain_first_match(self.dom, _compile_debug(sel))
        node = None if rpt.matched_index == INVALID else Node(self, rpt.matched_index)
        return node, rpt

    # -- node access -------------------------------------------------------
    def node_at(self, index: int) -> Optional[Node]:
        if 0 <= index < len(self.dom.kind):
            return Node(self, index)
        return None

    def __len__(self) -> int:
        return len(self.dom.kind)

    def _first_tag(self, name: str) -> Optional[Node]:
        idx = find_first_tag(self.dom, name)
        return None if idx is None else Node(self, idx)

    def html(self) -> Optional[Node]:
        return self._first_tag("html")

    def head(self) -> Optional[Node]:
        return self._first_tag("head")

    def body(self) -> Optional[Node]:
        return self._first_tag("body")
