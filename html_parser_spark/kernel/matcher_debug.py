"""Debug matcher: first match + near-miss diagnostics.

Reimplements the reference's ``explainFirstMatch``
(src/selector/matcher_debug.zig:18-70) and its report types
(src/common.zig:14-125 via src/debug/selector_debug.zig): a preorder
scan that records, per candidate element, the FIRST failing predicate
of the FIRST group that failed, classified as one of
``tag id class attr pseudo not_simple combinator scope``; up to 8
near-miss records and per-group eval/match counters (first 8 groups)
are kept.

Failure classification (matcher_debug.zig:73-121):
* evaluate the rightmost compound's predicates in the canonical order
  tag → id → class → attr → pseudo → :not, counting successful
  predicates in ``predicate_index``.  Each step asks
  ``matcher.matches_compound`` about the compound cut after that
  predicate, so the report cannot disagree with the matcher;
* if the rightmost compound fully matches but the group still failed:
  a single-compound group with a leading combinator that misses its
  scope anchor fails with ``scope``; a multi-compound group fails with
  ``combinator`` (the left-context walk found no chain).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from functools import lru_cache
from typing import List, Optional, Tuple

from .htmlparse import Dom, ELEMENT, INVALID
from .matcher import _match_chain, _matches_scope_anchor, matches_compound
from .selector import Compound, Selector

MAX_NEAR_MISSES = 8
MAX_SELECTOR_GROUPS = 8
INVALID_SMALL = 0xFFFF


@dataclass
class Failure:
    kind: str = "none"          # none|tag|id|class|attr|pseudo|not_simple|combinator|scope
    group_index: int = INVALID_SMALL
    compound_index: int = INVALID_SMALL
    predicate_index: int = INVALID_SMALL

    def is_none(self) -> bool:
        return self.kind == "none"


@dataclass
class NearMiss:
    node_index: int
    reason: Failure


@dataclass
class QueryDebugReport:
    selector_source: str = ""
    scope_root: int = INVALID
    visited_elements: int = 0
    matched_index: int = INVALID
    matched_group: int = INVALID_SMALL
    runtime_parse_error: bool = False
    group_count: int = 0
    group_eval_counts: List[int] = field(default_factory=lambda: [0] * MAX_SELECTOR_GROUPS)
    group_match_counts: List[int] = field(default_factory=lambda: [0] * MAX_SELECTOR_GROUPS)
    near_misses: List[NearMiss] = field(default_factory=list)

    def push_near_miss(self, node_index: int, reason: Failure) -> None:
        if len(self.near_misses) < MAX_NEAR_MISSES:
            self.near_misses.append(NearMiss(node_index, reason))


#: (failure kind, Compound field) in the matcher's canonical predicate
#: order tag → id → class → attr → pseudo → :not (matcher.zig:242-305).
_CANONICAL_ORDER = (
    ("tag", "tag"), ("id", "id"), ("class", "classes"), ("attr", "attrs"),
    ("pseudo", "pseudos"), ("not_simple", "nots"),
)


@lru_cache(maxsize=512)
def _predicate_prefixes(comp: Compound) -> Tuple[Tuple[str, Compound], ...]:
    """One ``(kind, prefix)`` step per predicate of ``comp``: ``prefix``
    is ``comp`` cut just after that predicate, in canonical order."""
    steps = []
    prefix = Compound()
    for kind, name in _CANONICAL_ORDER:
        value = getattr(comp, name)
        if isinstance(value, tuple):
            for k in range(1, len(value) + 1):
                prefix = replace(prefix, **{name: value[:k]})
                steps.append((kind, prefix))
        elif value is not None:
            prefix = replace(prefix, **{name: value})
            steps.append((kind, prefix))
    return tuple(steps)


def _classify_compound_failure(
    dom: Dom, comp: Compound, idx: int, g: int, c: int
) -> Failure:
    """First failing predicate of one compound at one node
    (matcher_debug.zig:105-188): the first prefix ``matches_compound``
    rejects; ``predicate_index`` counts the predicates before it."""
    for i, (kind, prefix) in enumerate(_predicate_prefixes(comp)):
        if not matches_compound(dom, prefix, idx):
            return Failure(kind, g, c, i)
    return Failure()


def _classify_group_failure(
    dom: Dom,
    group,
    idx: int,
    scope_root: Optional[int],
    g_idx: int,
    compound_base: int,
) -> Failure:
    """Why did this group fail at this node (matcher_debug.zig:73-103)?
    ``compound_base`` is the flattened index of the group's first
    compound so compound_index matches the reference's flat layout."""
    rightmost = len(group) - 1
    comp = group[rightmost]
    comp_abs = compound_base + rightmost
    reason = _classify_compound_failure(dom, comp, idx, g_idx, comp_abs)
    if not reason.is_none():
        return reason

    if len(group) == 1 and comp.combinator != "none" and not _matches_scope_anchor(
        dom, comp.combinator, idx, scope_root
    ):
        return Failure("scope", g_idx, comp_abs)

    if len(group) > 1:
        return Failure("combinator", g_idx, comp_abs)

    return Failure()


def explain_first_match(
    dom: Dom, selector: Selector, scope_root: Optional[int] = None
) -> QueryDebugReport:
    """Scan preorder for the first match, recording diagnostics.

    Mirrors matcher_debug.zig:18-70: per visited element, groups are
    tried in order; the first group's first-failure is classified and
    (if no group matched) recorded as a near-miss, capacity 8.
    """
    report = QueryDebugReport(
        selector_source=selector.source,
        scope_root=INVALID if scope_root is None else scope_root,
        group_count=min(len(selector.groups), MAX_SELECTOR_GROUPS),
    )
    n = len(dom.kind)
    if scope_root is None:
        lo, hi = 1, n - 1
    else:
        lo, hi = scope_root + 1, dom.subtree_end[scope_root]

    # Flattened compound start offsets (reference ast layout).
    bases = []
    acc = 0
    for g in selector.groups:
        bases.append(acc)
        acc += len(g)

    for idx in range(lo, min(hi, n - 1) + 1):
        if dom.kind[idx] != ELEMENT:
            continue
        report.visited_elements += 1

        first_failure = Failure()
        for g_idx, group in enumerate(selector.groups):
            if not group:
                continue
            if g_idx < MAX_SELECTOR_GROUPS:
                report.group_eval_counts[g_idx] += 1
            if _match_chain(dom, group, len(group) - 1, idx, scope_root):
                if g_idx < MAX_SELECTOR_GROUPS:
                    report.group_match_counts[g_idx] += 1
                report.matched_index = idx
                report.matched_group = g_idx
                return report
            if first_failure.is_none():
                first_failure = _classify_group_failure(
                    dom, group, idx, scope_root, g_idx, bases[g_idx]
                )

        if not first_failure.is_none():
            report.push_near_miss(idx, first_failure)

    return report
