"""Parser/DOM edge cases — each pinned to a reference test
(document.zig / root.zig / parser.zig citations in comments)."""

from html_parser_spark.kernel.htmlparse import (
    DOCUMENT, ELEMENT, TEXT, find_first_tag, parse,
)
from html_parser_spark.kernel.matcher import query_all, query_one
from html_parser_spark.kernel.selector import compile_selector
from html_parser_spark.kernel.text import inner_text


def q1(dom, sel):
    return query_one(dom, compile_selector(sel))


def test_basic_parse_and_node_zero_is_document():
    dom = parse("<html><head><title>A</title></head><body><div id='x'>ok</div></body></html>")
    assert dom.kind[0] == DOCUMENT
    assert dom.subtree_end[0] == len(dom.kind) - 1
    assert q1(dom, "div#x") is not None
    assert dom.name_lower[q1(dom, "div#x")] == b"div"


def test_malformed_tag_keeps_lt_in_name():
    # root.zig:72-85
    dom = parse("<div<div>")
    assert dom.name_disp[1] == b"div<div"
    assert dom.name_lower[1] == b"div<div"


def test_raw_text_mixed_case_close_and_embedded_lt():
    # document.zig:1377-1388
    dom = parse('<script>if (a < b) { x = "<tag>"; }</ScRiPt   ><div id="after"></div>')
    script = q1(dom, "script")
    after = q1(dom, "div#after")
    assert script is not None and after is not None
    assert dom.subtree_end[script] < after
    assert dom.text_bytes(script + 1) == b'if (a < b) { x = "<tag>"; }'


def test_raw_text_unterminated_runs_to_eof():
    # document.zig:1390-1401
    dom = parse("<script>const a = 1; <div>still script")
    script = q1(dom, "script")
    assert dom.subtree_end[script] == len(dom.kind) - 1
    assert q1(dom, "div") is None


def test_title_textarea_style_are_raw_text():
    dom = parse("<title>a<b>c</title><textarea><div></textarea><style>.x>y{}</style><p id='p'/>")
    assert q1(dom, "b") is None
    assert len(query_all(dom, compile_selector("div"))) == 0
    assert q1(dom, "p") is not None


def test_plaintext_swallows_to_eof():
    # tags.zig:139-141
    dom = parse("<plaintext><div>everything raw")
    pt = q1(dom, "plaintext")
    assert pt is not None
    assert q1(dom, "div") is None
    assert dom.text_bytes(pt + 1) == b"<div>everything raw"


def test_svg_subtree_opaque_text_child():
    # document.zig:1403-1424
    dom = parse(
        "<div id='before'></div><svg id='s'><g><svg id='inner'><rect id='r'/></svg>"
        "<circle id='c'/></g></svg><div id='after'></div>"
    )
    svg = q1(dom, "svg")
    assert inner_text(dom, svg, False) == b"<g><svg id='inner'><rect id='r'/></svg><circle id='c'/></g>"
    assert len(query_all(dom, compile_selector("svg"))) == 1
    for missing in ("#inner", "#r", "#c"):
        assert q1(dom, missing) is None
    assert q1(dom, "#before") is not None and q1(dom, "#after") is not None


def test_svg_quoted_attr_bait_ignored():
    # document.zig:1426-1438
    dom = parse("<div id='x' data-k=\"prefix <svg attr='x'> suffix\"></div><p id='after'></p>")
    from html_parser_spark.kernel.attrs import get_attr

    x = q1(dom, "#x")
    assert get_attr(dom, x, "data-k") == b"prefix <svg attr='x'> suffix"
    assert q1(dom, "#after") is not None


def test_self_closing_svg_has_no_text_child():
    # document.zig:1440-1455
    dom = parse("<div id='before'></div><svg id='s' viewBox='0 0 1 1' /><div id='after'></div>")
    svg = q1(dom, "svg")
    assert inner_text(dom, svg, False) == b""
    assert dom.subtree_end[svg] == svg
    assert q1(dom, "#after") is not None


def test_closed_svg_keeps_an_empty_text_child():
    # a closed svg always holds one text child, an empty one included;
    # raw-text elements and an unclosed svg hold none when empty
    dom = parse("<svg></svg>")
    assert dom.kind == [DOCUMENT, ELEMENT, TEXT]
    assert dom.text_bytes(2) == b"" and dom.subtree_end[1] == 2
    assert len(parse("<script></script>")) == 2
    assert len(parse("<svg>")) == 2


def test_explicit_self_close_does_not_close_regular_elements():
    # only void tags self-close (parser.zig:191)
    dom = parse("<div id='a'/><span id='b'></span>")
    a = q1(dom, "#a")
    b = q1(dom, "#b")
    # span is INSIDE div because <div/> stays open
    assert dom.parent[b] == a


def test_void_tags_self_close():
    dom = parse("<img id='i' src='x'><br id='b'><p id='p'>t</p>")
    i = q1(dom, "#i")
    assert dom.subtree_end[i] == i
    assert q1(dom, "#p") is not None
    assert dom.parent[q1(dom, "#p")] == 0


def test_optional_close_semantics():
    # document.zig:1457-1477
    dom = parse(
        "<html><head><title>x</title><body>"
        "<p id='p1'>a<div id='d1'></div>"
        "<ul><li id='li1'>x<li id='li2'>y</ul>"
        "<dl><dt id='dt1'>a<dd id='dd1'>b<dt id='dt2'>c</dl>"
        "<table><tr><td id='td1'>1<th id='th1'>2<td id='td2'>3</tr></table>"
        "</body></html>"
    )
    for sel in ("#p1 + #d1", "#li1 + #li2", "#dt1 + #dd1", "#dd1 + #dt2",
                "#td1 + #th1", "#th1 + #td2", "head + body"):
        assert q1(dom, sel) is not None, sel


def test_comments_doctype_pi_produce_no_nodes():
    # parser.zig:424-470
    dom = parse("<!-- c --><!-->x<!doctype html><?pi junk?><div id='d'>t</div>")
    assert len(query_all(dom, compile_selector("*"))) == 1
    assert q1(dom, "#d") is not None
    # "<!-->" is the malformed short comment: the following "x" is text
    texts = [dom.text_bytes(i) for i in range(len(dom.kind)) if dom.kind[i] == TEXT]
    assert b"x" in texts


def test_unmatched_close_ignored_and_stack_scan_close():
    dom = parse("<div id='a'><span id='b'>x</em></span></div>")
    assert q1(dom, "#a") is not None
    # </em> ignored; span closes normally
    b = q1(dom, "#b")
    assert dom.name_lower[dom.parent[b]] == b"div"
    dom2 = parse("<div id='a'><span id='b'>x</div><p id='c'></p>")
    # </div> closes span AND div (stack scan); p is top-level
    c = q1(dom2, "#c")
    assert dom2.parent[c] == 0
    # an implicit close leaves nothing of its name open: </p> is dropped
    dom3 = parse("<div><p>a<p>b</p></p><i id='d'></i></div>")
    assert dom3.name_lower[dom3.parent[q1(dom3, "#d")]] == b"div"


def test_mixed_case_tags_attrs():
    # document.zig:1496-1509
    dom = parse("<DiV ID='x' ClAsS='A b' DaTa-K='v'><SpAn id='y'></SpAn></DiV>")
    assert q1(dom, "div#x[data-k=v]") is not None
    assert q1(dom, "div > span#y") is not None
    from html_parser_spark.kernel.attrs import get_attr

    assert get_attr(dom, q1(dom, "div#x"), "class") == b"A b"


def test_name_display_lowercases_first_8_bytes_only():
    dom = parse("<LONGTAGNAME-X></LONGTAGNAME-X>")
    assert dom.name_disp[1] == b"longtagnAME-X"
    assert dom.name_lower[1] == b"longtagname-x"


def test_drop_whitespace_text_nodes_profile():
    strict = parse("<div> a <span> b </span> c <i> </i></div>")
    fast = parse("<div> a <span> b </span> c <i> </i></div>", drop_whitespace_text_nodes=True)
    n_text_strict = sum(1 for k in strict.kind if k == TEXT)
    n_text_fast = sum(1 for k in fast.kind if k == TEXT)
    assert n_text_strict == 4  # " a ", " b ", " c ", " "
    assert n_text_fast == 3    # whitespace-only node dropped


def test_profile_invariant_selector_results():
    # document.zig:1641-1680
    html = (
        "<html><body>"
        "<div id='x' class='alpha beta' data-k='v' data-q='1>2'>x</div>"
        "<img id='im' src='a.png' />"
        "<a id='a1' href='https://example.com' class='nav button'>ok</a>"
        "<p id='p1'>a<span id='s1'>b</span></p>"
        "<div id='e' a= ></div>"
        "</body></html>"
    )
    strict = parse(html)
    fast = parse(html, drop_whitespace_text_nodes=True)
    for sel in ("div#x[data-k=v]", "img#im", "a[href^=https][class*=button]:not(.missing)",
                "p#p1 > span#s1", "div[a]"):
        s = compile_selector(sel)
        assert (query_one(strict, s) is None) == (query_one(fast, s) is None), sel


def test_quoted_gt_in_attrs():
    # document.zig:1682-1695
    dom = parse("<div id='a' data-q='x>y' data-n=abc></div><img id='i' src='x' /><br id='b'>",
                drop_whitespace_text_nodes=True)
    assert q1(dom, "div#a[data-q='x>y']") is not None
    assert q1(dom, "img#i[src='x']") is not None
    assert q1(dom, "br#b") is not None


def test_find_first_tag_and_preorder_contiguity():
    dom = parse("<html><head></head><body><div><p>x</p></div></body></html>")
    body = find_first_tag(dom, "BODY")
    assert dom.name_lower[body] == b"body"
    # subtree ranges nest correctly
    for idx in range(len(dom.kind)):
        assert dom.subtree_end[idx] >= idx
        p = dom.parent[idx]
        if p != 0xFFFFFFFF:
            assert dom.subtree_end[p] >= dom.subtree_end[idx]


def test_empty_and_pathological_inputs():
    assert len(parse("").kind) == 1
    assert len(parse("<").kind) == 1
    parse(">" * 10)
    parse("<" * 10)
    parse("<>" * 10)
    parse("< div >x</ div >")
    dom = parse("&" * 5)
    assert sum(1 for k in dom.kind if k == TEXT) == 1
