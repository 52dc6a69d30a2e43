"""Main-content extraction: structural strip + link-density strip."""

import random

from html_parser_spark.kernel import extract
from html_parser_spark.kernel.extract import _DEFAULT_REMOVE_COMPILED, extract_main
from html_parser_spark.kernel.htmlparse import TEXT, find_first_tag, parse
from html_parser_spark.kernel.matcher import query_all
from html_parser_spark.kernel.selector import compile_selector
from html_parser_spark.sources.transcripts import (
    MAIN_TEXT_START, PAGE_PREFIX, PAGE_SUFFIX,
)
from perfbench.gen import fixture_documents, web_pages
from support import ref_extract_main

FULL_PAGE = (
    "<html><head><title>T</title><script>var a=1;</script><style>.x{}</style></head>"
    "<body><nav><ul><li><a href='/a'>A</a></li><li><a href='/b'>B</a></li></ul></nav>"
    "<header><h1>Site Header</h1></header>"
    "<main><p>the actual article text</p><p>second paragraph</p></main>"
    "<aside>sidebar junk</aside>"
    "<form><input name='q'></form>"
    "<svg><circle r='1'/></svg>"
    "<footer>copyright</footer></body></html>"
)


def test_boilerplate_strip():
    r = extract_main(FULL_PAGE)
    # innerText semantics: adjacent text nodes concatenate with no
    # injected separator (faithful to the reference, node.zig:111-128)
    assert r.main_text == "the actual article textsecond paragraph"
    assert r.n_removed >= 6


def test_spans_point_into_original_bytes():
    src = FULL_PAGE.encode()
    r = extract_main(FULL_PAGE)
    joined = b"".join(src[s:e] for s, e in r.spans)
    assert joined == b"the actual article textsecond paragraph"


def test_no_body_uses_document_root():
    r = extract_main("<p>bare fragment</p><script>junk()</script>")
    assert r.main_text == "bare fragment"


def test_link_density_strips_link_farms():
    page = (
        "<body><div id='farm'>"
        "<a href='/1'>one link</a> <a href='/2'>two link</a> <a href='/3'>three link</a>"
        "</div><p>real content sentence here</p></body>"
    )
    assert extract_main(page).main_text == "real content sentence here"


def test_link_density_keeps_text_dominant_blocks():
    page = (
        "<body><div>mostly prose with a tiny <a href='/x'>link</a> inside "
        "a much longer paragraph of ordinary text</div></body>"
    )
    r = extract_main(page)
    assert "mostly prose" in r.main_text and "link" in r.main_text


def test_transcript_page_template():
    text = "hello spark extraction world"
    page = PAGE_PREFIX + text + PAGE_SUFFIX
    r = extract_main(page)
    assert r.main_text == text
    assert r.spans == [(MAIN_TEXT_START, MAIN_TEXT_START + len(text))]


def test_entities_decoded_in_main_text():
    page = "<body><main><p>a &amp; b &lt;c&gt;</p></main></body>"
    assert extract_main(page).main_text == "a & b <c>"


def test_link_density_threshold_is_exclusive():
    # half the block's text under <a> stays; more than half is stripped
    half = "<body><div><a href='/x'>abcd</a>efgh</div></body>"
    assert extract_main(half).main_text == "abcdefgh"
    more = "<body><div><a href='/x'>abcde</a>efgh</div><p>kept</p></body>"
    r = extract_main(more)
    assert (r.main_text, r.n_removed) == ("kept", 1)


_SOUP_TAGS = ("div", "p", "a", "ul", "li", "ol", "section", "article", "table", "td",
              "span", "script", "nav", "header", "footer", "aside", "form", "svg",
              "b", "body", "html", "title", "textarea", "style", "br", "DIV", "A")
_SOUP_WORDS = ("x", "hello", "world", "&amp;", "&lt;b&gt;", "&#233;", "&nbsp;", " ",
               "\n", "R&D", "&bogus;", "a  b", "café", "link text here")


def _tag_soup(rng):
    """Unbalanced random markup: stray end tags, links, chrome and
    block tags in any nesting, entity-bearing and blank text."""
    out = []
    for _ in range(rng.randint(0, 60)):
        r, tag = rng.random(), rng.choice(_SOUP_TAGS)
        if r < 0.35:
            out.append(f"<{tag} href='/x'>" if tag in ("a", "A") else f"<{tag}>")
        elif r < 0.6:
            out.append(f"</{tag}>")
        else:
            out.append(" ".join(rng.choice(_SOUP_WORDS) for _ in range(rng.randint(1, 5))))
    return "".join(out)


def _pages():
    rng = random.Random(17)
    docs = fixture_documents(5, 20).column("text").to_pylist()
    return ([_tag_soup(rng) for _ in range(600)]
            + [PAGE_PREFIX + t + PAGE_SUFFIX for t in docs]
            + [p.html for p in web_pages(3, 3)]
            # 3,000 nested link-dense blocks: only the topmost counts
            + ["<body>" + "<div>y<a href='/'>xx</a>" * 3000 + "</div>" * 3000 + "tail</body>"])


def test_one_walk_matches_three_pass_reference():
    """The one reverse pass gives the reference's four fields on every
    page, with the default strip and with the link-density strip alone."""
    no_structural = compile_selector("q")
    n_dense = 0
    for page in _pages():
        for sel in (None, no_structural):
            got, ref = extract_main(page, sel), ref_extract_main(page, sel)
            assert (got.main_text, got.spans, got.n_nodes, got.n_removed) == \
                (ref.main_text, ref.spans, ref.n_nodes, ref.n_removed), page[:200]
            n_dense += sel is no_structural and got.n_removed > 0
    assert n_dense > 50  # the link-density strip is exercised


def test_each_text_node_is_decoded_once(monkeypatch):
    """Every text node under the root outside a structurally stripped
    subtree is entity-decoded exactly once, kept or link-stripped."""
    calls = []
    real = extract.decode_entities
    monkeypatch.setattr(extract, "decode_entities", lambda b: calls.append(b) or real(b))
    link_farm = ("<body><div><a href='/1'>one</a> <a href='/2'>two</a></div>"
                 "<p>real &amp; content</p></body>")
    for page in (FULL_PAGE, link_farm, web_pages(4, 1)[0].html):
        calls.clear()
        extract_main(page)
        dom = parse(page)
        root = find_first_tag(dom, "body") or 0
        stripped = set(query_all(dom, _DEFAULT_REMOVE_COMPILED, root or None))

        def outside_strips(idx):
            while idx != root:
                if idx in stripped:
                    return False
                idx = dom.parent[idx]
            return True

        texts = [i for i in range(root + 1, dom.subtree_end[root] + 1)
                 if dom.kind[i] == TEXT and outside_strips(i)]
        assert texts and len(calls) == len(texts)
