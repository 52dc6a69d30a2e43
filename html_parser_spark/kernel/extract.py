"""Main-content extraction: the product operator.

Composition of the kernel primitives (the reference provides the
parser/selector machinery; the boilerplate-strip policy itself is new
logic, deterministic and pinned by tests):

1. parse → columnar DOM;
2. root = first ``<body>`` element if present, else the document node;
3. structural strip: subtrees matching ``remove_selector`` (default:
   script/style/title/textarea raw-text containers + classic chrome
   nav/header/footer/aside/form + opaque svg) are masked out;
4. link-density strip: block containers with text whose *link
   density* (text under ``<a>`` descendants / total text) exceeds
   ``LINK_DENSITY_THRESHOLD`` are masked — catches link-farms the
   structural pass missed;
5. surviving TEXT nodes under root are gathered in preorder, entity
   decoded, whitespace-normalized across node boundaries; their raw
   byte spans (into the original document bytes) are reported.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Tuple

from .entities import decode_entities
from .htmlparse import Dom, ELEMENT, TEXT, parse
from .matcher import iter_query
from .selector import Selector, compile_selector
from .text import normalize_ws

DEFAULT_REMOVE_SELECTOR = (
    "script, style, title, textarea, nav, header, footer, aside, form, svg"
)

# Containers eligible for the link-density strip, and the share of
# their text under ``<a>`` above which they are stripped.
_BLOCK_TAGS = frozenset((b"div", b"section", b"ul", b"ol", b"table", b"p", b"article"))
LINK_DENSITY_THRESHOLD = 0.5


@dataclass
class ExtractResult:
    main_text: str
    spans: List[Tuple[int, int]]
    n_nodes: int
    n_removed: int


def _link_text_lengths(dom: Dom, root: int, removed: List[bool]) -> Tuple[List[int], List[int]]:
    """Per-node cumulative (text_len, link_text_len) over the subtree.

    Single reverse pass: because storage is preorder and subtrees are
    contiguous, children always have higher indexes than parents, so a
    right-to-left accumulation into ``parent`` totals each subtree in
    O(n) without recursion.
    """
    n = len(dom.kind)
    text_len = [0] * n
    link_len = [0] * n
    lo, hi = root, dom.subtree_end[root]
    for idx in range(hi, lo, -1):
        if removed[idx]:
            continue
        if dom.kind[idx] == TEXT:
            seg = len(decode_entities(dom.text_bytes(idx)).strip(b" \t\n\r\x0c"))
            text_len[idx] += seg
        p = dom.parent[idx]
        if p != 0xFFFFFFFF and p >= lo:
            text_len[p] += text_len[idx]
            is_link = dom.kind[idx] == ELEMENT and dom.name_lower[idx] == b"a"
            link_len[p] += text_len[idx] if is_link else link_len[idx]
    return text_len, link_len


def extract_main(source, remove_selector: Optional[Selector] = None) -> ExtractResult:
    """Extract main content text + contributing raw text spans.

    ``remove_selector`` replaces the structural strip's default
    selector (step 3 of the module docstring)."""
    if remove_selector is None:
        remove_selector = _DEFAULT_REMOVE_COMPILED
    dom = parse(source)
    n = len(dom.kind)
    removed = [False] * n

    # Root: first <body> if any (findFirstTag semantics), else document.
    root = 0
    for idx in range(1, n):
        if dom.kind[idx] == ELEMENT and dom.name_lower[idx] == b"body":
            root = idx
            break

    n_removed = 0
    for idx in iter_query(dom, remove_selector, None if root == 0 else root):
        if not removed[idx]:
            n_removed += 1
        for j in range(idx, dom.subtree_end[idx] + 1):
            removed[j] = True

    text_len, link_len = _link_text_lengths(dom, root, removed)
    hi = dom.subtree_end[root]
    idx = root + 1
    while idx <= hi:
        if (
            not removed[idx]
            and dom.kind[idx] == ELEMENT
            and dom.name_lower[idx] in _BLOCK_TAGS
            and text_len[idx] > 0
            and link_len[idx] / text_len[idx] > LINK_DENSITY_THRESHOLD
        ):
            n_removed += 1
            for j in range(idx, dom.subtree_end[idx] + 1):
                removed[j] = True
            idx = dom.subtree_end[idx] + 1
            continue
        idx += 1

    spans: List[Tuple[int, int]] = []
    segs: List[bytes] = []
    for idx in range(root + 1, dom.subtree_end[root] + 1):
        if dom.kind[idx] == TEXT and not removed[idx]:
            spans.append((dom.start[idx], dom.end[idx]))
            segs.append(decode_entities(dom.text_bytes(idx)))
    main_text = normalize_ws(b"".join(segs)).decode("utf-8", errors="replace")
    return ExtractResult(main_text=main_text, spans=spans, n_nodes=n, n_removed=n_removed)


_DEFAULT_REMOVE_COMPILED = compile_selector(DEFAULT_REMOVE_SELECTOR)
