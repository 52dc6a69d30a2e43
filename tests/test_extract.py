"""Main-content extraction: structural strip + link-density strip."""

from html_parser_spark.kernel.extract import extract_main
from html_parser_spark.sources.transcripts import (
    MAIN_TEXT_START, PAGE_PREFIX, PAGE_SUFFIX,
)

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
