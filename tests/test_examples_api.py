"""The reference's 9 examples (``zig build examples-check``,
/root/reference/examples/*.zig) ported against our user-facing API
(html_parser_spark.api) — executable documentation proving a user of
the reference can switch 1:1."""

from html_parser_spark.api import Document
from html_parser_spark.kernel.selector import compile_selector


# examples/basic_parse_query.zig
def test_basic_parse_query():
    doc = Document.parse("<div id='app'><a class='nav' href='/docs'>Docs</a></div>")
    a = doc.query_one("div#app > a.nav")
    assert a is not None
    assert a.get_attribute_value("href") == "/docs"


# examples/runtime_selector.zig
def test_runtime_selector():
    doc = Document.parse(
        "<div><a class='primary' href='/x'></a><a class='secondary' href='/y'></a></div>")
    assert doc.query_one("a.primary") is not None
    assert len(doc.query_all("a[href]")) == 2


# examples/cached_selector.zig
def test_cached_selector():
    doc = Document.parse(
        "<div>"
        "<a id='a1' class='button nav' href='https://one'></a>"
        "<a id='a2' class='nav' href='https://two'></a>"
        "</div>")
    sel = compile_selector("a[href^=https][class~=button]")  # compile once
    first = doc.query_one(sel)                               # cached path
    assert first is not None
    assert first.get_attribute_value("id") == "a1"


# examples/debug_query_report.zig
def test_debug_query_report():
    doc = Document.parse("<div><a id='one' class='nav'></a><a id='two'></a></div>")
    node, report = doc.query_one_debug("a[href^=https]")
    assert node is None
    assert report.visited_elements > 0
    assert len(report.near_misses) > 0
    assert report.near_misses[0].reason.kind != "none"


# examples/navigation_and_children.zig
def test_navigation_and_children():
    doc = Document.parse(
        "<main id='m'><h1 id='title'></h1><p id='intro'></p><p id='body'></p></main>")
    main = doc.query_one("main#m")
    first = main.first_child()
    last = main.last_child()
    assert first.get_attribute_value("id") == "title"
    assert last.get_attribute_value("id") == "body"
    kids = main.children()
    assert len(kids) == 3
    first_via_index = doc.node_at(kids[0].index)
    assert first_via_index.get_attribute_value("id") == "title"


# examples/query_time_decode.zig
def test_query_time_decode():
    doc = Document.parse(
        "<a id='x' href='https://example.test/?a=1&amp;b=2' data-k='a&amp;b'>link</a>")
    a = doc.query_one("a#x[data-k='a&b']")
    assert a is not None
    assert a.get_attribute_value("href") == "https://example.test/?a=1&b=2"


# examples/inner_text_options.zig
def test_inner_text_options():
    doc = Document.parse("<div id='x'> Hello\n  <span>world</span> &amp;\tteam </div>")
    node = doc.query_one("div#x")
    assert node.inner_text() == "Hello world & team"
    raw = node.inner_text(normalize_whitespace=False)
    assert "\n" in raw
    # innerTextOwned ≡ inner_text here: Python always materializes.
    assert node.inner_text() == "Hello world & team"


# examples/strict_vs_fastest_parse.zig
def test_strict_vs_fastest_parse():
    fixture = "<html><body><ul><li class='item'>A</li><li class='item'>B</li></ul></body></html>"
    strictest = Document.parse(fixture, drop_whitespace_text_nodes=False)
    fastest = Document.parse(fixture, drop_whitespace_text_nodes=True)
    assert len(strictest.query_all("li.item")) == len(fastest.query_all("li.item")) == 2


# examples/instrumentation_hooks.zig
def test_instrumentation_hooks():
    from html_parser_spark.kernel.instrumentation import parse_with_hooks
    from support import query_one_with_hooks

    calls = {"parse_end": 0, "query_end": 0}
    dom = parse_with_hooks(
        "<div><span id='x'></span></div>",
        on_parse_end=lambda st: calls.__setitem__("parse_end", calls["parse_end"] + 1),
    )
    assert calls["parse_end"] == 1
    idx = query_one_with_hooks(
        dom, "span#x",
        on_query_end=lambda st: calls.__setitem__("query_end", calls["query_end"] + 1))
    assert idx is not None and calls["query_end"] == 1


# document-level helpers (DOCUMENTATION.md html()/head()/body())
def test_document_section_helpers():
    doc = Document.parse("<html><head><title>t</title></head><body><p>x</p></body></html>")
    assert doc.html().tag_name == "html"
    assert doc.head().tag_name == "head"
    assert doc.body().tag_name == "body"
    assert doc.body().query_one("p").inner_text() == "x"


# node-scoped matching + serialization round-trip
def test_matches_and_outer_html():
    doc = Document.parse("<ul><li class='a'>x</li><li class='b'>y</li></ul>")
    li = doc.query_one("li.b")
    assert li.matches("li.b") and not li.matches("li.a")
    assert li.outer_html() == "<li class='b'>y</li>"
    assert li.prev_sibling().matches("li.a")
    assert li.next_sibling() is None
    assert li.parent_node().tag_name == "ul"


# node-scoped debug query (DOCUMENTATION.md scoped-queries family)
def test_node_scoped_debug_query():
    doc = Document.parse(
        "<div id='a'><p class='x'>1</p></div><div id='b'><p class='y'>2</p></div>")
    b = doc.query_one("div#b")
    node, rpt = b.query_one_debug("p.x")
    assert node is None
    assert rpt.visited_elements == 1          # only the subtree of #b
    node2, rpt2 = b.query_one_debug("p.y")
    assert node2 is not None and node2.inner_text() == "2"


# document.zig:1911-1923 — debug query reports runtime selector parse errors
def test_debug_query_parse_error_report():
    import pytest
    from html_parser_spark.kernel.selector import SelectorError

    doc = Document.parse("<div id='x'></div>")
    with pytest.raises(SelectorError) as exc:
        doc.query_one_debug("div[")
    rpt = exc.value.report
    assert rpt.runtime_parse_error is True
    assert rpt.selector_source == "div["
