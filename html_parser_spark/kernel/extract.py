"""Main-content extraction: the product operator.

Composition of the kernel primitives (the reference provides the
parser/selector machinery; the boilerplate-strip policy itself is new
logic, deterministic and pinned by tests):

1. parse → columnar DOM;
2. root = first ``<body>`` element if present, else the document node;
3. structural strip: subtrees matching ``remove_selector`` (default:
   script/style/title/textarea raw-text containers + classic chrome
   nav/header/footer/aside/form + opaque svg) are masked out;
4. one reverse pass over root's subtree (preorder storage: a node is
   reached after all of its descendants) decodes each surviving TEXT
   node once, keeps its decoded segment, and totals per node the text
   and the text under ``<a>`` descendants.  A block container whose
   *link density* (link text / total text) exceeds
   ``LINK_DENSITY_THRESHOLD`` is masked there — catches link-farms the
   structural pass missed — dropping the segments and inner masked
   blocks it holds, so only topmost blocks count as removed;
5. the kept segments, in preorder, are joined and whitespace-normalized
   across node boundaries; their raw byte spans (into the original
   document bytes) are reported.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Tuple

from .entities import decode_entities
from .htmlparse import ELEMENT, TEXT, find_first_tag, parse
from .matcher import iter_topmost
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


def extract_main(source, remove_selector: Optional[Selector] = None) -> ExtractResult:
    """Extract main content text + contributing raw text spans.

    ``remove_selector`` replaces the structural strip's default
    selector (step 3 of the module docstring)."""
    if remove_selector is None:
        remove_selector = _DEFAULT_REMOVE_COMPILED
    dom = parse(source)
    n = len(dom.kind)
    root = find_first_tag(dom, "body") or 0
    kind, parent, name, end = dom.kind, dom.parent, dom.name_lower, dom.subtree_end
    src, start, stop = dom.source, dom.start, dom.end

    removed = [False] * n
    n_removed = 0
    for idx in iter_topmost(dom, remove_selector, root or None):
        n_removed += 1
        removed[idx:end[idx] + 1] = [True] * (end[idx] + 1 - idx)

    # Step 4: when ``idx`` is reached its totals are complete, and the
    # kept segments and masked blocks inside it are the tails of the stacks.
    text_len = [0] * n
    link_len = [0] * n
    kept: List[int] = []  # kept TEXT nodes, reverse preorder
    segs: List[bytes] = []  # their decoded bytes
    blocks: List[int] = []
    for idx in range(end[root], root, -1):
        if removed[idx]:
            continue
        k = kind[idx]
        if k == TEXT:
            seg = decode_entities(src[start[idx]:stop[idx]])
            kept.append(idx)
            segs.append(seg)
            text_len[idx] = len(seg.strip(b" \t\n\r\x0c"))
        elif (k == ELEMENT and name[idx] in _BLOCK_TAGS and text_len[idx]
              and link_len[idx] / text_len[idx] > LINK_DENSITY_THRESHOLD):
            last = end[idx]
            while kept and kept[-1] <= last:
                kept.pop()
                segs.pop()
            while blocks and blocks[-1] <= last:
                blocks.pop()
            blocks.append(idx)
        t = text_len[idx]
        if t:
            p = parent[idx]
            text_len[p] += t
            link_len[p] += t if k == ELEMENT and name[idx] == b"a" else link_len[idx]

    spans = [(start[idx], stop[idx]) for idx in reversed(kept)]
    main_text = normalize_ws(b"".join(reversed(segs))).decode("utf-8", errors="replace")
    return ExtractResult(main_text=main_text, spans=spans, n_nodes=n,
                         n_removed=n_removed + len(blocks))


_DEFAULT_REMOVE_COMPILED = compile_selector(DEFAULT_REMOVE_SELECTOR)
