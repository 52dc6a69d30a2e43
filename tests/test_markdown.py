"""DOM → Markdown renderer (kernel/markdown.py) — structural pins.

The renderer is corpus-prep tooling (no reference analog), so these
tests pin OUR documented contract: CommonMark-ish output, innerText
whitespace model, no metacharacter escaping, drop-tags contribute
nothing.
"""

from html_parser_spark.kernel.htmlparse import parse
from html_parser_spark.kernel.markdown import table_rows, to_markdown


def md(html, idx=0):
    return to_markdown(parse(html if isinstance(html, bytes) else html.encode()), idx)


def test_headings_and_paragraphs():
    assert md("<h1>A</h1><p>b c</p><h3>D</h3>") == "# A\n\nb c\n\n### D"


def test_whitespace_collapse_matches_inner_text_model():
    # collapse crosses node boundaries; entities decode before collapse
    assert md("<p>a &#x20;  <b></b> b</p>") == "a b"


def test_unordered_and_ordered_lists():
    assert md("<ul><li>x</li><li>y</li></ul>") == "- x\n- y"
    assert md("<ol><li>x</li><li>y</li></ol>") == "1. x\n2. y"


def test_nested_list_indents_under_parent_item():
    out = md("<ol><li>a<ul><li>n</li></ul></li></ol>")
    assert out == "1. a\n\n   - n"


def test_inline_markup():
    assert md("<p><strong>s</strong> <em>e</em> <code>c()</code></p>") == "**s** *e* `c()`"
    assert md("<p><b>s</b> <i>e</i></p>") == "**s** *e*"
    assert md("<p>empty: <b></b><i></i>!</p>") == "empty: !"


def test_links_and_images():
    assert md("<p><a href='u?a=1&amp;b=2'>t</a></p>") == "[t](u?a=1&b=2)"
    assert md("<p><img src='i.png' alt='pic'></p>") == "![pic](i.png)"
    assert md("<p><img src='i.png'></p>") == "![](i.png)"


def test_attribute_values_decode_once():
    # the parser decodes attribute values; a second decode would turn
    # the literal "&amp;lt;" into "<"
    assert md('<a href="/x?a=1&amp;amp;lt;b">t</a>') == "[t](/x?a=1&amp;lt;b)"
    assert md('<img src="i&amp;amp;.png" alt="&amp;amp;gt;">') == "![&amp;gt;](i&amp;.png)"


def test_blockquote_prefixes_every_line():
    assert md("<blockquote><p>a</p><p>b</p></blockquote>") == "> a\n>\n> b"


def test_pre_keeps_raw_text_in_fence():
    out = md(b"<pre>  x = 1\n  y &amp; 2</pre>")
    assert out == "```\n  x = 1\n  y & 2\n```"


def test_hr_and_br():
    assert md("<p>a<br>b</p><hr><p>c</p>") == "a\nb\n\n---\n\nc"


def test_table_pipe_rendering():
    out = md("<table><thead><tr><th>h1</th><th>h2</th></tr></thead>"
             "<tbody><tr><td>a</td><td>b</td></tr></tbody></table>")
    assert out == "| h1 | h2 |\n| --- | --- |\n| a | b |"


def test_table_ragged_rows_padded():
    out = md("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>")
    assert out == "| a | b |\n| --- | --- |\n| c |  |"


def test_drop_tags_contribute_nothing():
    assert md("<p>a</p><script>var x=1;</script><style>p{}</style><p>b</p>") == "a\n\nb"


def test_wrappers_are_transparent():
    assert md("<div><section><p>a</p></section><span>b <em>c</em></span></div>") == "a\n\nb *c*"


def test_subtree_rendering_via_index():
    dom = parse(b"<div><main id='m'><h2>T</h2><p>x</p></main><p>outside</p></div>")
    # node 0 = document, 1 = div, 2 = main
    assert to_markdown(dom, 2) == "## T\n\nx"


def test_no_metachar_escaping_documented_contract():
    assert md("<p>2 * 3 _x_</p>") == "2 * 3 _x_"


def test_document_and_text_roots():
    dom = parse(b"plain  text")
    assert to_markdown(dom) == "plain text"


def _rows(html):
    dom = parse(html.encode())
    # node 0 = document; the table is its first element child
    idx = next(i for i in range(len(dom.kind)) if dom.name_lower[i] == b"table")
    return table_rows(dom, idx)


def test_table_rows_sections_transparent_ragged_kept():
    rows = _rows("<table><thead><tr><th>h1</th><th>h2</th></tr></thead>"
                 "<tbody><tr><td>a</td><td>b</td></tr>"
                 "<tr><td>c</td></tr></tbody>"
                 "<tfoot><tr><td>f</td></tr></tfoot></table>")
    # thead/tbody/tfoot flatten; ragged rows are NOT padded here
    assert rows == [["h1", "h2"], ["a", "b"], ["c"], ["f"]]


def test_table_rows_cells_inline_rendered_and_collapsed():
    rows = _rows("<table><tr><td> a &amp;  <b>b</b> </td>"
                 "<td><a href='u'>t</a></td><td></td></tr></table>")
    assert rows == [["a & **b**", "[t](u)", ""]]


def test_table_rows_ignores_stray_non_row_children():
    # text nodes and non-tr/td elements between rows contribute nothing
    rows = _rows("<table>stray<caption>cap</caption>"
                 "<tr>x<td>a</td><div>no</div></tr></table>")
    assert rows == [["a"]]


def test_table_rows_empty_table():
    assert _rows("<table></table>") == []


def test_depth_cap_no_recursion_error():
    """Pathological nesting (real at web scale) must degrade, not die:
    beyond MAX_RENDER_DEPTH the subtree renders as flat innerText via
    the iterative kernel walk.  The extraction kernel was always
    iterative; this pins the renderer's poison-pill guard."""
    for html in (
        "<div>" * 3000 + "x" + "</div>" * 3000,
        "<b>" * 3000 + "x" + "</b>" * 3000,
        "<ul><li>" * 1200 + "x" + "</li></ul>" * 1200,
        "<blockquote>" * 1500 + "x" + "</blockquote>" * 1500,
        "<table><tr><td>" * 1500 + "x" + "</td></tr></table>" * 1500,
    ):
        out = md(html)
        assert "x" in out


def test_depth_cap_boundary_structure_preserved():
    # nesting below the cap keeps full structure
    from html_parser_spark.kernel.markdown import MAX_RENDER_DEPTH

    deep_but_ok = "<div>" * (MAX_RENDER_DEPTH - 5) + "<h1>T</h1>" \
        + "</div>" * (MAX_RENDER_DEPTH - 5)
    assert md(deep_but_ok) == "# T"
    # beyond it, text survives flat (structure degrades by contract)
    beyond = "<div>" * (MAX_RENDER_DEPTH + 50) + "<h1>T</h1>" \
        + "</div>" * (MAX_RENDER_DEPTH + 50)
    assert "T" in md(beyond)
