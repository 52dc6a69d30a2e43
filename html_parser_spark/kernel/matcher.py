"""Selector matching over the columnar DOM.

Reimplements the reference matcher semantics (src/selector/matcher.zig):

* right-to-left group matching with backtracking over ancestors
  (descendant) and previous element siblings (sibling)
  (matcher.zig:56-179);
* compound predicate order tag → id → class → attr → pseudo → :not
  with short-circuit (matcher.zig:242-305);
* scope anchoring for leading combinators: the anchor is the scope
  node, or the document node for unscoped queries
  (common.zig:156-187);
* sibling chains link ELEMENTS only (text nodes are invisible to
  ``+``/``~``/nth-child, parser.zig:382-406);
* ``:nth-child`` requires a non-document parent; positions are 1-based
  counts over the element sibling chain (matcher.zig:327-341);
* ``queryAll`` yields matches in document preorder; ``queryOne`` is the
  minimum matching index across groups (matcher.zig:23-31).
"""

from __future__ import annotations

import re
from typing import Iterator, List, Optional

from .attrs import attrs_of
from .htmlparse import Dom, ELEMENT, INVALID
from .selector import Compound, NotSel, Selector

_WS_SPLIT_RE = re.compile(rb"[ \t\n\r\x0c]+")


def _token_includes(value: bytes, token: bytes) -> bool:
    """Whitespace-separated token membership (tables.zig:91-104)."""
    if not token:
        return False
    for tok in _WS_SPLIT_RE.split(value):
        if tok == token:
            return True
    return False


def parent_element(dom: Dom, idx: int) -> Optional[int]:
    p = dom.parent[idx]
    if p == INVALID or p == 0:
        return None
    return p


def prev_element_sibling(dom: Dom, idx: int) -> Optional[int]:
    prev = dom.prev_sibling[idx]
    while prev != INVALID:
        if dom.kind[prev] == ELEMENT:
            return prev
        prev = dom.prev_sibling[prev]
    return None


def next_element_sibling(dom: Dom, idx: int) -> Optional[int]:
    """Preorder candidate walk: the node after my subtree is either my
    next sibling or an ancestor's sibling (document.zig:747-762)."""
    n = len(dom.kind)
    my_parent = dom.parent[idx]
    j = dom.subtree_end[idx] + 1
    while j < n:
        if dom.parent[j] == my_parent:
            if dom.kind[j] == ELEMENT:
                return j
            j = dom.subtree_end[j] + 1
            continue
        return None
    return None


def _attr_op_matches(op: str, raw: bytes, value: bytes) -> bool:
    if op == "exists":
        return True
    if op == "eq":
        return raw == value
    if op == "prefix":
        return raw.startswith(value)
    if op == "suffix":
        return raw.endswith(value)
    if op == "contains":
        return value in raw
    if op == "includes":
        return _token_includes(raw, value)
    if op == "dash":
        return raw == value or raw.startswith(value + b"-")
    raise AssertionError(op)


def _matches_not(dom: Dom, idx: int, item: NotSel, attrs) -> bool:
    if item.kind == "tag":
        return dom.name_lower[idx] == item.text
    if item.kind == "id":
        v = attrs.get(b"id")
        return v is not None and v == item.text
    if item.kind == "class":
        v = attrs.get(b"class")
        return v is not None and _token_includes(v, item.text)
    a = item.attr
    raw = attrs.get(a.name)
    return raw is not None and _attr_op_matches(a.op, raw, a.value)


def matches_compound(dom: Dom, comp: Compound, idx: int) -> bool:
    if dom.kind[idx] != ELEMENT:
        return False
    if comp.tag is not None and dom.name_lower[idx] != comp.tag:
        return False
    needs_attrs = comp.id is not None or comp.classes or comp.attrs or comp.nots
    attrs = attrs_of(dom, idx) if needs_attrs else None
    if comp.id is not None:
        v = attrs.get(b"id")
        if v is None or v != comp.id:
            return False
    if comp.classes:
        cv = attrs.get(b"class")
        if cv is None:
            return False
        tokens = set(_WS_SPLIT_RE.split(cv))
        for cls in comp.classes:
            if cls not in tokens:
                return False
    for a in comp.attrs:
        raw = attrs.get(a.name)
        if raw is None or not _attr_op_matches(a.op, raw, a.value):
            return False
    for p in comp.pseudos:
        if p.kind == "first_child":
            if prev_element_sibling(dom, idx) is not None:
                return False
        elif p.kind == "last_child":
            if next_element_sibling(dom, idx) is not None:
                return False
        else:  # nth_child
            if parent_element(dom, idx) is None:
                return False
            position = 1
            prev = dom.prev_sibling[idx]
            while prev != INVALID:
                position += 1
                prev = dom.prev_sibling[prev]
            if not p.nth_matches(position):
                return False
    for item in comp.nots:
        if _matches_not(dom, idx, item, attrs):
            return False
    return True


def _matches_scope_anchor(dom: Dom, combinator: str, idx: int, scope_root: Optional[int]) -> bool:
    anchor = 0 if scope_root is None else scope_root
    if combinator == "none":
        return True
    if combinator == "child":
        return dom.parent[idx] == anchor
    if combinator == "descendant":
        p = dom.parent[idx]
        while p != INVALID:
            if p == anchor:
                return True
            if p == 0:
                break
            p = dom.parent[p]
        return False
    if combinator == "adjacent":
        return prev_element_sibling(dom, idx) == anchor
    if combinator == "sibling":
        prev = prev_element_sibling(dom, idx)
        while prev is not None:
            if prev == anchor:
                return True
            prev = prev_element_sibling(dom, prev)
        return False
    return False


def _match_chain(dom: Dom, group, ci: int, idx: int, scope_root: Optional[int]) -> bool:
    comp = group[ci]
    if not matches_compound(dom, comp, idx):
        return False
    if ci == 0:
        return comp.combinator == "none" or _matches_scope_anchor(dom, comp.combinator, idx, scope_root)
    comb = comp.combinator
    if comb == "child":
        p = parent_element(dom, idx)
        return p is not None and _match_chain(dom, group, ci - 1, p, scope_root)
    if comb == "adjacent":
        p = prev_element_sibling(dom, idx)
        return p is not None and _match_chain(dom, group, ci - 1, p, scope_root)
    if comb == "descendant":
        p = parent_element(dom, idx)
        while p is not None:
            if _match_chain(dom, group, ci - 1, p, scope_root):
                return True
            p = parent_element(dom, p)
        return False
    if comb == "sibling":
        p = prev_element_sibling(dom, idx)
        while p is not None:
            if _match_chain(dom, group, ci - 1, p, scope_root):
                return True
            p = prev_element_sibling(dom, p)
        return False
    return False


from functools import lru_cache


@lru_cache(maxsize=512)
def _plan(selector: Selector):
    """Split groups into a fast tag-name set (single-compound, tag-only,
    no anchor) and the remaining groups needing the full chain walk.

    The analog of the reference's tag-candidate query acceleration
    (document.zig:619-670) for the common `script, style, nav, …`
    removal selectors: one set lookup instead of N group walks.
    """
    simple_tags = set()
    complex_groups = []
    for g in selector.groups:
        if len(g) == 1:
            c = g[0]
            if (
                c.combinator == "none" and c.tag is not None and c.id is None
                and not c.classes and not c.attrs and not c.pseudos and not c.nots
            ):
                simple_tags.add(c.tag)
                continue
        if g:
            complex_groups.append(g)
    return frozenset(simple_tags), tuple(complex_groups)


def matches_at(dom: Dom, selector: Selector, idx: int, scope_root: Optional[int] = None) -> bool:
    simple_tags, complex_groups = _plan(selector)
    if simple_tags and dom.kind[idx] == ELEMENT and dom.name_lower[idx] in simple_tags:
        return True
    for group in complex_groups:
        if _match_chain(dom, group, len(group) - 1, idx, scope_root):
            return True
    return False


def iter_query(dom: Dom, selector: Selector, scope_root: Optional[int] = None) -> Iterator[int]:
    """Lazy preorder iterator over matching element indexes."""
    n = len(dom.kind)
    if scope_root is None:
        lo, hi = 1, n - 1
    else:
        lo, hi = scope_root + 1, dom.subtree_end[scope_root]
    kinds = dom.kind
    names = dom.name_lower
    simple_tags, complex_groups = _plan(selector)
    for idx in range(lo, min(hi, n - 1) + 1):
        if kinds[idx] != ELEMENT:
            continue
        if simple_tags and names[idx] in simple_tags:
            yield idx
            continue
        matched = False
        for group in complex_groups:
            if _match_chain(dom, group, len(group) - 1, idx, scope_root):
                matched = True
                break
        if matched:
            yield idx


def iter_topmost(dom: Dom, selector: Selector, scope_root: Optional[int] = None) -> Iterator[int]:
    """Preorder matches that are not inside an earlier match: the
    subtree of each match yielded is skipped."""
    end = dom.subtree_end
    last = 0  # last index inside the latest match yielded
    for idx in iter_query(dom, selector, scope_root):
        if idx > last:
            yield idx
            last = end[idx]


def query_all(dom: Dom, selector: Selector, scope_root: Optional[int] = None) -> List[int]:
    return list(iter_query(dom, selector, scope_root))


def _ensure_id_index(dom: Dom) -> dict:
    """Per-document id index: id value → FIRST element index carrying
    it (duplicates keep the first — document.zig:570-617 semantics; the
    query site falls back to the exact scan when the indexed hit fails
    scope or the rest of the chain, matcher.zig:186-198).  Built lazily
    on the first ``#id`` queryOne; exact dict keys mean the reference's
    hash-collision disable path has no analog here."""
    if dom._id_index is None:
        idx_map: dict = {}
        kinds = dom.kind
        for i in range(1, len(kinds)):
            if kinds[i] != ELEMENT:
                continue
            v = attrs_of(dom, i).get(b"id")
            if v:
                idx_map.setdefault(v, i)
        dom._id_index = idx_map
    return dom._id_index


def _ensure_tag_index(dom: Dom, tag: bytes) -> list:
    """Per-document per-tag candidate list (document.zig:619-670
    ensureTagIndex): preorder-sorted element indexes for one tag, built
    lazily on the first queryOne naming that tag.  The reference's
    arena-budget disable path is N/A with Python lists."""
    lst = dom._tag_index.get(tag)
    if lst is None:
        names = dom.name_lower
        kinds = dom.kind
        lst = [i for i in range(1, len(kinds)) if kinds[i] == ELEMENT and names[i] == tag]
        dom._tag_index[tag] = lst
    return lst


def _in_scope(dom: Dom, idx: int, scope_root: Optional[int]) -> bool:
    if scope_root is None:
        return idx > 0
    return scope_root < idx <= dom.subtree_end[scope_root]


def query_one(dom: Dom, selector: Selector, scope_root: Optional[int] = None) -> Optional[int]:
    # Accelerated paths (matcher.zig:181-220 firstMatchForGroup): a
    # single-group selector whose rightmost compound names an #id jumps
    # through the id index (verify + exact-scan fallback on duplicate-id
    # predicate miss); one naming a tag walks only that tag's candidate
    # list.  Both are sublinear on big documents for the two most common
    # selector shapes.
    groups = selector.groups
    if len(groups) == 1 and groups[0]:
        g = groups[0]
        comp = g[-1]
        if comp.id is not None:
            hit = _ensure_id_index(dom).get(comp.id)
            if hit is None:
                return None  # the index is exhaustive: no element has this id
            if _in_scope(dom, hit, scope_root) and _match_chain(dom, g, len(g) - 1, hit, scope_root):
                return hit
            # duplicate ids are legal in real HTML: the first carrier
            # failed scope/predicates, so fall through to exact scan
        elif comp.tag is not None:
            cands = _ensure_tag_index(dom, comp.tag)
            if scope_root is not None:
                from bisect import bisect_right

                lo = bisect_right(cands, scope_root)
                hi_bound = dom.subtree_end[scope_root]
            else:
                lo, hi_bound = 0, len(dom.kind)
            ci = len(g) - 1
            for k in range(lo, len(cands)):
                idx = cands[k]
                if idx > hi_bound:
                    break
                if _match_chain(dom, g, ci, idx, scope_root):
                    return idx
            return None  # candidate list is exhaustive for this tag
    for idx in iter_query(dom, selector, scope_root):
        return idx
    return None
