"""Tests for the debug matcher (explainFirstMatch analog,
reference src/selector/matcher_debug.zig) and instrumentation hooks
(reference src/debug/instrumentation.zig)."""

import pytest

from html_parser_spark.kernel.htmlparse import INVALID, parse
from html_parser_spark.kernel.instrumentation import ParseStats, parse_with_hooks
from html_parser_spark.kernel.matcher import query_one
from html_parser_spark.kernel.matcher_debug import (
    MAX_NEAR_MISSES, explain_first_match,
)
from html_parser_spark.kernel.selector import compile_selector
from support import QueryStats, query_all_with_hooks, query_one_with_hooks

FIXTURE = (
    b"<div id='a' class='x y'>"
    b"<ul><li class='i'>1</li><li class='i'>2</li><li class='j'>3</li></ul>"
    b"<p data-k='v'>t</p>"
    b"</div>"
)


def explain(html, sel, scope_root=None):
    return explain_first_match(parse(html), compile_selector(sel), scope_root)


# ---------------------------------------------------------------- match path

def test_match_reports_index_and_group():
    dom = parse(FIXTURE)
    rpt = explain_first_match(dom, compile_selector("li.j"))
    assert rpt.matched_index == query_one(dom, compile_selector("li.j"))
    assert rpt.matched_group == 0
    # Nodes visited before the match are recorded as near-misses
    # (div, ul, li.i, li.i precede li.j in preorder).
    assert len(rpt.near_misses) == 4


def test_grouped_selector_counts_and_matched_group():
    # Group 0 (em) never matches; group 1 (ul) matches at the ul node.
    rpt = explain(FIXTURE, "em, ul")
    assert rpt.matched_group == 1
    # div was visited first (eval both groups, no match), then ul.
    assert rpt.visited_elements == 2
    assert rpt.group_eval_counts[0] == 2
    assert rpt.group_eval_counts[1] == 2
    assert rpt.group_match_counts[0] == 0
    assert rpt.group_match_counts[1] == 1


def test_scan_stops_at_first_match():
    rpt = explain(FIXTURE, "div")
    assert rpt.matched_index != INVALID
    assert rpt.visited_elements == 1


# ------------------------------------------------------- failure classifying

@pytest.mark.parametrize(
    "sel,kind",
    [
        ("em", "tag"),
        ("div#nope", "id"),
        ("div.missing", "class"),
        ("div[data-z]", "attr"),
        ("div:nth-child(5)", "pseudo"),
        ("div:not(.x)", "not_simple"),
    ],
)
def test_first_failure_kinds(sel, kind):
    rpt = explain(FIXTURE, sel)
    assert rpt.matched_index == INVALID
    assert rpt.near_misses, sel
    # The div node (index 1) is the first near-miss for div-targeted
    # selectors; for "em" every element fails on tag.
    assert rpt.near_misses[0].reason.kind == kind


def test_combinator_failure():
    # Rightmost compound (p) matches the p node, but its parent chain
    # has no <section>.
    rpt = explain(FIXTURE, "section > p")
    kinds = {nm.reason.kind for nm in rpt.near_misses}
    assert "combinator" in kinds
    p_miss = [nm for nm in rpt.near_misses if nm.reason.kind == "combinator"]
    assert len(p_miss) == 1  # only the p node gets past the rightmost compound


def test_scope_failure():
    # "> li" anchored at the div: li's parent is ul, not the div.
    dom = parse(FIXTURE)
    div = query_one(dom, compile_selector("div"))
    rpt = explain_first_match(dom, compile_selector("> li"), scope_root=div)
    assert rpt.matched_index == INVALID
    li_misses = [nm for nm in rpt.near_misses if nm.reason.kind == "scope"]
    assert len(li_misses) == 3


def test_predicate_index_counts_successes():
    # div.x.missing: tag ok (pred 0), class 'x' ok (pred 1 at failure
    # time: predicate_index == 1 → the first class predicate succeeded).
    rpt = explain(FIXTURE, "div.x.missing")
    f = rpt.near_misses[0].reason
    assert f.kind == "class"
    assert f.predicate_index == 2  # tag + class[x] succeeded


def test_near_miss_capacity():
    html = b"".join(b"<i class='z'></i>" for _ in range(20))
    rpt = explain(html, "i.q")
    assert rpt.visited_elements == 20
    assert len(rpt.near_misses) == MAX_NEAR_MISSES


def test_scoped_visit_range():
    dom = parse(FIXTURE)
    ul = query_one(dom, compile_selector("ul"))
    rpt = explain_first_match(dom, compile_selector("em"), scope_root=ul)
    # Only the 3 li inside the ul subtree are visited.
    assert rpt.visited_elements == 3


# ------------------------------------------------------------ instrumentation

def test_parse_with_hooks_stats():
    seen = {}
    dom = parse_with_hooks(FIXTURE, on_parse_end=lambda st: seen.update(stats=st))
    st = seen["stats"]
    assert isinstance(st, ParseStats)
    assert st.input_len == len(FIXTURE)
    assert st.node_count == len(dom)
    assert st.elapsed_ns >= 0


def test_query_hooks_runtime_vs_cached_kinds():
    dom = parse(FIXTURE)
    out = []
    query_one_with_hooks(dom, "li.j", on_query_end=out.append)
    query_one_with_hooks(dom, compile_selector("li.j"), on_query_end=out.append)
    query_all_with_hooks(dom, "li", on_query_end=out.append)
    query_all_with_hooks(dom, compile_selector("li"), on_query_end=out.append)
    assert [s.kind for s in out] == [
        "one_runtime", "one_cached", "all_runtime", "all_cached"]
    assert all(isinstance(s, QueryStats) and s.selector_len > 0 for s in out)
    assert out[0].matched is True


def test_query_hooks_match_flag_false():
    dom = parse(FIXTURE)
    out = []
    idx = query_one_with_hooks(dom, "em#none", on_query_end=out.append)
    assert idx is None
    assert out[0].matched is False


def test_hooks_agree_with_plain_query():
    dom = parse(FIXTURE)
    sel = compile_selector("ul li")
    assert query_all_with_hooks(dom, sel) == [
        i for i in range(len(dom.kind))
        if dom.kind[i] == 1 and dom.name_lower[i] == b"li"
    ]
