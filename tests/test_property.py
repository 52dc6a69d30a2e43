"""Property-based tests (hypothesis).

Three layers:

1. **Structured oracle** — generate random well-formed trees from a
   neutral tag alphabet (no void/raw-text/implicit-close quirks),
   render to HTML, parse, and check the DOM reproduces the generated
   structure exactly (preorder tag sequence, parent edges, subtree
   ranges, innerText).
2. **Total-function fuzz** — arbitrary byte soup must never crash the
   parser, and the columnar invariants must always hold (array lengths
   equal, parents precede children, subtree intervals properly
   nested), matching the reference's permissive never-fail contract
   (README.md:9-11 "never rejects input").
3. **Debug agreement** — ``explain_first_match`` reports the match
   ``query_one`` finds, and no near-miss it records is a match.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from html_parser_spark.kernel.htmlparse import (
    DOCUMENT, ELEMENT, INVALID, TEXT, parse,
)
from html_parser_spark.kernel.matcher import matches_at, query_all, query_one
from html_parser_spark.kernel.matcher_debug import explain_first_match
from html_parser_spark.kernel.selector import compile_selector
from html_parser_spark.kernel.serialize import write_html
from html_parser_spark.kernel.text import inner_text

# Neutral container tags: no void/raw-text/plaintext/svg/implicit-close
# members, so generated nesting is preserved verbatim by the parser.
TAGS = ("div", "span", "section", "article", "em", "b", "i", "u", "code")

TEXT_ALPHABET = st.text(
    alphabet=st.sampled_from("abcdefgh XYZ.,!?-_0123456789"), min_size=1, max_size=12
)


@st.composite
def tree(draw, depth=0):
    tag = draw(st.sampled_from(TAGS))
    if depth >= 3:
        kids = []
    else:
        kids = draw(st.lists(
            st.one_of(TEXT_ALPHABET, tree(depth=depth + 1)), max_size=4))
    return (tag, kids)


def render(node) -> str:
    tag, kids = node
    inner = "".join(k if isinstance(k, str) else render(k) for k in kids)
    return f"<{tag}>{inner}</{tag}>"


def flatten(node, out=None):
    """Preorder (tag, [texts-in-order]) traversal of the generated tree."""
    if out is None:
        out = []
    tag, kids = node
    out.append(tag)
    for k in kids:
        if not isinstance(k, str):
            flatten(k, out)
    return out


def gathered_text(node) -> str:
    tag, kids = node
    return "".join(k if isinstance(k, str) else gathered_text(k) for k in kids)


def check_invariants(dom) -> None:
    n = len(dom.kind)
    assert n >= 1
    for arr in (dom.start, dom.end, dom.attr_end, dom.parent,
                dom.prev_sibling, dom.last_child, dom.subtree_end):
        assert len(arr) == n
    assert dom.kind[0] == DOCUMENT
    for i in range(1, n):
        assert dom.kind[i] in (ELEMENT, TEXT)
        p = dom.parent[i]
        assert 0 <= p < i, f"parent of {i} must precede it"
        assert i <= dom.subtree_end[i] <= n - 1
        # proper interval nesting within the parent's subtree
        assert dom.subtree_end[i] <= dom.subtree_end[p]
    for i in range(1, n):
        if dom.kind[i] == TEXT:
            assert dom.subtree_end[i] == i


@settings(max_examples=150, deadline=None)
@given(tree())
def test_structured_roundtrip(t):
    html = render(t)
    dom = parse(html.encode())
    check_invariants(dom)
    got_tags = [dom.name_lower[i].decode() for i in range(len(dom.kind))
                if dom.kind[i] == ELEMENT]
    assert got_tags == flatten(t)
    # root element innerText without normalization == concatenated texts
    root = 1
    assert dom.kind[root] == ELEMENT
    assert inner_text(dom, root, normalize_whitespace=False).decode() == gathered_text(t)


@settings(max_examples=150, deadline=None)
@given(tree())
def test_structured_serialize_roundtrip(t):
    """Pristine parse of attribute-free well-formed HTML serializes
    back byte-identically (node.zig:174-311: raw spans re-emitted)."""
    html = render(t)
    dom = parse(html.encode())
    assert write_html(dom, 1).decode() == html


@settings(max_examples=150, deadline=None)
@given(tree(), st.sampled_from(TAGS))
def test_query_all_agrees_with_matches_at(t, tag):
    dom = parse(render(t).encode())
    sel = compile_selector(tag)
    via_query = query_all(dom, sel)
    via_match = [i for i in range(1, len(dom.kind)) if matches_at(dom, sel, i)]
    assert via_query == via_match
    assert via_query == sorted(via_query)  # document preorder


DEBUG_SELECTORS = (
    "div", "span:first-child", "b:last-child", "*:nth-child(2n+1)",
    "em:not(b)", "div > span", "section i", "u + b", "div ~ code",
    "> div", "+ em", "article span:nth-child(-n+2), code",
)


@settings(max_examples=150, deadline=None)
@given(tree(), st.sampled_from(DEBUG_SELECTORS), st.integers(min_value=0))
def test_debug_report_agrees_with_matcher(t, source, pick):
    """The debug matcher's first match is ``query_one``'s, unscoped and
    scoped, and none of its near-misses matches."""
    dom = parse(render(t).encode())
    sel = compile_selector(source)
    elements = [i for i in range(len(dom.kind)) if dom.kind[i] == ELEMENT]
    for scope in (None, elements[pick % len(elements)]):
        report = explain_first_match(dom, sel, scope)
        hit = query_one(dom, sel, scope)
        assert report.matched_index == (INVALID if hit is None else hit)
        for miss in report.near_misses:
            assert not matches_at(dom, sel, miss.node_index, scope)


SOUP_ALPHABET = "<>/='\"! ?-&#;abcdiv spn\t\n\x0c\x00撃"


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(SOUP_ALPHABET), max_size=120))
def test_fuzz_never_crashes(soup):
    dom = parse(soup.encode())
    check_invariants(dom)
    # querying and extracting over garbage must also be total
    for s in ("div", "div > span", "*:nth-child(2n+1)", "[a^=b]"):
        query_all(dom, compile_selector(s))
    for i in range(len(dom.kind)):
        if dom.kind[i] == ELEMENT:
            inner_text(dom, i, normalize_whitespace=True)
            break


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=120))
def test_fuzz_arbitrary_bytes(data):
    dom = parse(data)
    check_invariants(dom)
