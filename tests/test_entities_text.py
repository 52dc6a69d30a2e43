"""Entity decode + whitespace normalization + innerText semantics."""

from html_parser_spark.kernel.entities import decode_entities
from html_parser_spark.kernel.htmlparse import parse
from html_parser_spark.kernel.matcher import query_one
from html_parser_spark.kernel.selector import compile_selector
from html_parser_spark.kernel.text import inner_text, normalize_ws


def q1(dom, sel):
    return query_one(dom, compile_selector(sel))


def test_named_subset_decodes():
    # entities.zig:78-82
    assert decode_entities(b"a&amp;b&#x20;") == b"a&b "
    assert decode_entities(b"&lt;&gt;&quot;&apos;") == b"<>\"'"


def test_unknown_named_entities_pass_through():
    # &nbsp; is NOT in the subset (root.zig:181-216)
    assert decode_entities(b"Hello&nbsp;World") == b"Hello&nbsp;World"
    assert decode_entities(b"&AMP;&Lt;") == b"&AMP;&Lt;"  # case-sensitive


def test_numeric_entities():
    assert decode_entities(b"&#65;&#x42;&#X43;") == b"ABC"
    assert decode_entities(b"&#128512;") == "\U0001F600".encode()
    # overflow and surrogates stay raw
    assert decode_entities(b"&#1114112;") == b"&#1114112;"
    assert decode_entities(b"&#xD800;") == b"&#xD800;"
    # missing ';' / missing digits stay raw
    assert decode_entities(b"&#65") == b"&#65"
    assert decode_entities(b"&#;") == b"&#;"
    assert decode_entities(b"&#x;") == b"&#x;"
    assert decode_entities(b"&#12a;") == b"&#12a;"


def test_normalize_ws_html_set_only():
    assert normalize_ws(b"  a \t\n\r\x0c b  ") == b"a b"
    # \x0b is NOT HTML whitespace
    assert normalize_ws(b"a\x0bb") == b"a\x0bb"


def test_inner_text_normalizes_by_default():
    dom = parse("<div id='x'>  alpha \n\t beta   gamma  </div>")
    assert inner_text(dom, q1(dom, "#x")) == b"alpha beta gamma"


def test_inner_text_non_normalized():
    dom = parse("<div id='x'>  alpha \n\t beta   gamma  </div>")
    assert inner_text(dom, q1(dom, "#x"), False) == b"  alpha \n\t beta   gamma  "


def test_normalization_across_text_node_boundaries():
    # document.zig:1113-1126
    dom = parse("<div id='x'>A <b></b>   B</div>")
    assert inner_text(dom, q1(dom, "#x")) == b"A B"


def test_decode_before_normalize():
    # &#x20; becomes a collapsible space
    dom = parse("<div id='x'>a&#x20;&#x20;  b</div>")
    assert inner_text(dom, q1(dom, "#x")) == b"a b"
    assert inner_text(dom, q1(dom, "#x"), False) == b"a    b"


def test_entity_decode_at_query_time():
    # document.zig:1128-1148
    dom = parse("<div id='x'>  alpha  &amp;   beta  </div>")
    x = q1(dom, "#x")
    assert dom.text_bytes(x + 1) == b"  alpha  &amp;   beta  "  # raw kept
    assert inner_text(dom, x, False) == b"  alpha  &   beta  "
    assert inner_text(dom, x) == b"alpha & beta"


def test_inner_text_on_text_node():
    dom = parse("<p> hi &amp; bye </p>")
    p = q1(dom, "p")
    assert inner_text(dom, p + 1) == b"hi & bye"
    assert inner_text(dom, p + 1, False) == b" hi & bye "


def test_multibyte_utf8_text():
    dom = parse("<p>héllo wörld — ünïcode</p>")
    assert inner_text(dom, q1(dom, "p")) == "héllo wörld — ünïcode".encode()
