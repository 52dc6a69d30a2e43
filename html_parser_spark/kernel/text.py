"""Text extraction: entity decode + whitespace normalization.

Models reference src/html/node.zig:77-171 (innerText/innerTextOwned)
and node.zig:203-227 (normalizeWhitespaceInPlace):

* ``innerText`` over an element gathers every TEXT descendant in the
  preorder range ``[idx+1 .. subtree_end]``, decodes the entity subset,
  and (by default) collapses runs of HTML whitespace to single spaces
  with leading/trailing whitespace dropped.  The whitespace-collapse
  state carries *across* text-node boundaries (pinned by reference test
  document.zig:1113-1126: ``<div>A <b></b>   B</div>`` → ``"A B"``),
  which is equivalent to decoding each segment, concatenating, then
  normalizing the concatenation — that is what we do.
* Decoded entities participate in normalization (``&#x20;`` becomes a
  collapsible space) because decode happens before normalize.
"""

from __future__ import annotations

import re
from typing import List

from .entities import decode_entities
from .htmlparse import Dom, TEXT, WS_BYTES

_WS_RUN_RE = re.compile(rb"[ \t\n\r\x0c]+")


def normalize_ws(data: bytes) -> bytes:
    """Collapse HTML-whitespace runs to one space; trim both ends."""
    return _WS_RUN_RE.sub(b" ", data).strip(b" ")


def _gather(dom: Dom, idx: int) -> List[int]:
    if dom.kind[idx] == TEXT:
        return [idx]
    out = []
    end = dom.subtree_end[idx]
    kinds = dom.kind
    for j in range(idx + 1, min(end + 1, len(kinds))):
        if kinds[j] == TEXT:
            out.append(j)
    return out


def inner_text(dom: Dom, idx: int, normalize_whitespace: bool = True) -> bytes:
    """Subtree text of node ``idx`` (decoded, optionally normalized)."""
    segs = [decode_entities(dom.text_bytes(j)) for j in _gather(dom, idx)]
    raw = b"".join(segs)
    if not normalize_whitespace:
        return raw
    return normalize_ws(raw)
