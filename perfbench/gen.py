"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables.  The program under test only ever sees the
tables these functions write; the expected outputs stay on the
benchmark side.

* :func:`fixture_documents` — a ``documents`` table shaped like the
  sf0.1 ``documents`` fixture (31-word vocabulary, 10..100 words per
  document).  The ``sources`` layer wraps each text in its boilerplate
  page, so the expected main text of a turn is the document text.
* :func:`web_pages` — realistic web pages (median ~60 KB, a few KB to a
  few hundred KB) with head junk, header/nav/aside/footer chrome,
  link-farm blocks the link-density heuristic must strip,
  entity-bearing article text and nested containers.  The expected
  main text is assembled alongside the markup, so it is known by
  construction.
"""

from __future__ import annotations

import heapq
import math
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from statistics import NormalDist
from typing import List, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The vocabulary of the sf0.1 ``documents`` fixture.
FIXTURE_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Identifiable strings the corpus-prep PII scrub must redact.
PII_SNIPPETS = (
    "mail jane.doe@example.com now",
    "call 555-867-5309 today",
    "host 10.20.30.40 down",
    "ssn 123-45-6789 filed",
)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

def _stratified(rng: random.Random, n: int, lo: float, hi: float) -> List[float]:
    """``n`` evenly spaced points of [lo, hi), shuffled: every seed gets
    the same size distribution, so run-to-run totals do not drift."""
    pts = [lo + (hi - lo) * (i + 0.5) / n for i in range(n)]
    rng.shuffle(pts)
    return pts


def fixture_documents(seed: int, n_docs: int, pii_share: float = 0.0) -> pa.Table:
    """The ``documents`` table, ``(doc_id, text)``: texts drawn like the
    sf0.1 fixture's.  ``pii_share`` of the documents get one
    :data:`PII_SNIPPETS` phrase spliced in (corpus prep scrubs them)."""
    rng = random.Random(seed)
    texts = []
    for n_words in _stratified(rng, n_docs, 10, 101):
        words = rng.choices(FIXTURE_VOCAB, k=int(n_words))
        if rng.random() < pii_share:
            words.insert(rng.randrange(len(words) + 1), rng.choice(PII_SNIPPETS))
        texts.append(" ".join(words))
    return pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts})


# --- web pages -------------------------------------------------------

_WEB_VOCAB = (
    "the of and to in is for on that with as by data query engine page "
    "system model result table index cluster storage memory network "
    "latency throughput stream batch partition shuffle worker driver "
    "kernel parser selector document content article section paragraph "
    "measure cost layer vector filter join scan write read cache node "
    "café naïve über façade résumé"
).split()
# (decoded text, how it appears in the markup)
_ENTITY_WORDS = (
    ("R&D", "R&amp;D"), ("a<b", "a&lt;b"), ("b>a", "b&gt;a"),
    ('"quoted"', "&quot;quoted&quot;"), ("it's", "it&apos;s"),
    ("don't", "don&#39;t"), ("é", "&#233;"), ("—", "&#x2014;"),
    ("€5", "&#8364;5"), ("AT&T", "AT&#38;T"),
)
_CHROME_WORDS = "home news sport about contact login blog shop help faq".split()


def _escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


class _Article:
    """Markup and expected text built side by side."""

    def __init__(self) -> None:
        self.html: List[str] = []
        self.text: List[str] = []

    def add(self, html: str, text: str) -> None:
        self.html.append(html)
        self.text.append(text)


def _sentence(rng: random.Random, n_words: int) -> Tuple[str, str]:
    """One run of words, some entity-encoded: (markup, decoded)."""
    html, text = [], []
    for _ in range(n_words):
        if rng.random() < 0.04:
            dec, enc = rng.choice(_ENTITY_WORDS)
        else:
            dec = enc = rng.choice(_WEB_VOCAB)
        html.append(enc)
        text.append(dec)
    return " ".join(html), " ".join(text)


def _paragraph(rng: random.Random) -> Tuple[str, str]:
    """A ``<p>`` with inline markup; link text stays a small share."""
    parts_h, parts_t = [], []
    for k in range(rng.randint(2, 5)):
        h, t = _sentence(rng, rng.randint(8, 30))
        parts_h.append(h)
        parts_t.append(t)
        if k == 0 and rng.random() < 0.5:
            lh, lt = _sentence(rng, 2)
            parts_h.append(f"<a href='/ref/{rng.randrange(10**6)}'>{lh}</a>")
            parts_t.append(lt)
        elif rng.random() < 0.4:
            tag = rng.choice(("b", "em", "code", "span"))
            ih, it = _sentence(rng, rng.randint(1, 3))
            parts_h.append(f"<{tag}>{ih}</{tag}>")
            parts_t.append(it)
    return "<p>" + " ".join(parts_h) + "</p>", " ".join(parts_t)


def _block(rng: random.Random) -> Tuple[str, str]:
    """One article block: a paragraph, a nested container, a list, a
    quote or a heading; inner pieces are whitespace-separated so the
    text nodes never glue words together."""
    r = rng.random()
    if r < 0.55:
        return _paragraph(rng)
    if r < 0.75:
        inner = [_paragraph(rng) for _ in range(rng.randint(1, 3))]
        html = ("<div class='section'><div class='inner'>\n"
                + "\n".join(h for h, _ in inner)
                + "\n<!-- ad slot -->\n</div></div>")
        return html, " ".join(t for _, t in inner)
    if r < 0.87:
        items = [_sentence(rng, rng.randint(4, 12)) for _ in range(rng.randint(3, 8))]
        html = "<ul>\n" + "\n".join(f"<li>{h}</li>" for h, _ in items) + "\n</ul>"
        return html, " ".join(t for _, t in items)
    if r < 0.95:
        h, t = _sentence(rng, rng.randint(15, 40))
        return f"<blockquote><p>{h}</p></blockquote>", t
    h, t = _sentence(rng, rng.randint(3, 8))
    return f"<h2>{h}</h2>", t


def _link_farm(rng: random.Random, links: List[str], css: str,
               budget: int) -> str:
    """A block of links whose text is almost all link text, so the
    link-density strip removes it; ``budget`` caps its text bytes."""
    picked = rng.choices(links, k=budget // 12 + 1)
    return (f"<div class='{css}'><h3>More</h3><ul>\n" + "\n".join(picked)
            + "\n</ul></div>")


def _link(rng: random.Random) -> str:
    """One link-farm entry, 11 to 23 bytes of link text."""
    words = " ".join(rng.choices(_CHROME_WORDS, k=rng.randint(2, 4)))
    return f"<li><a href='/l/{rng.randrange(10**6)}'>{words}</a></li>"


def _chrome(rng: random.Random) -> Tuple[str, str]:
    nav = "".join(f"<li><a href='/{w}'>{w.title()}</a></li>"
                  for w in rng.sample(_CHROME_WORDS, rng.randint(5, 10)))
    head = (
        "<header class='site'><div class='logo'><a href='/'>Site</a></div>"
        "<form action='/search'><input name='q'><button>Search</button></form>"
        f"</header>\n<nav><ul>{nav}</ul></nav>\n"
    )
    tail = (
        "<aside><h3>Sponsored</h3><p>Buy <a href='/ad'>now</a></p></aside>\n"
        "<footer><p>&copy; site</p><ul><li><a href='/privacy'>Privacy</a></li>"
        "</ul></footer>\n"
        "<script>if (a < b && c > d) { w = \"</p><p>not text\"; }</script>\n"
    )
    return head, tail


@dataclass
class WebPage:
    html: str
    expected: str


def web_page(rng: random.Random, target_bytes: int,
             blocks: List[Tuple[str, str]], links: List[str]) -> WebPage:
    """One page of roughly ``target_bytes``, its article drawn from the
    ``blocks`` pool and its link farms from ``links``."""
    art = _Article()
    title_h, title_t = _sentence(rng, rng.randint(4, 9))
    art.add(f"<h1>{title_h}</h1>", title_t)
    day = (EPOCH - timedelta(days=rng.randrange(2000))).date().isoformat()
    author = rng.choice(("Ada", "Grace", "Edsger", "Barbara", "Donald"))
    art.add(f"<div class='byline'><span>By {author}</span> <time>{day}</time></div>",
            f"By {author} {day}")
    size, article_bytes = 1500, target_bytes * 4 // 5
    while size < article_bytes:
        h, t = rng.choice(blocks)
        art.add(h, t)
        size += len(h) + 1
    text_bytes = sum(len(t) for t in art.text)
    head, tail = _chrome(rng)
    # The three link farms together carry well under half as much text
    # as the article, so no container above the article crosses the 0.5
    # link-density bar.
    farm_budget = max(40, text_bytes // 40)
    html = (
        "<!DOCTYPE html>\n<html lang='en'><head><meta charset='utf-8'>"
        f"<title>{_escape(title_t)}</title>"
        "<script>var cfg = {a: 1 < 2};</script><style>p > a {color: red}</style>"
        "</head>\n<body>\n" + head
        + "<div id='page' class='wrapper'>\n<div class='layout'>\n"
        + "<section class='content'><article class='post'>\n"
        + "\n".join(art.html)
        + "\n</article></section>\n"
        + _link_farm(rng, links, "related", farm_budget) + "\n</div>\n"
        + _link_farm(rng, links, "tags", farm_budget) + "\n"
        + _link_farm(rng, links, "trending", farm_budget) + "\n</div>\n"
        + tail + "</body></html>\n"
    )
    # Every piece is single-spaced with no edge whitespace, so joining
    # with one space is already the normalized text.
    return WebPage(html, " ".join(art.text))


def web_pages(seed: int, n_pages: int) -> List[WebPage]:
    """``n_pages`` pages with log-normal sizes: median 60 KB, sigma 0.9,
    clipped to 3..400 KB, at stratified quantiles so every seed has the
    same size distribution.  Article blocks and links come from
    per-seed pools, so generation stays cheap."""
    rng = random.Random(seed)
    blocks = [_block(rng) for _ in range(600)]
    links = [_link(rng) for _ in range(300)]
    pages = []
    for u in _stratified(rng, n_pages, 0.0, 1.0):
        kb = min(max(60.0 * math.exp(0.9 * NormalDist().inv_cdf(u)), 3.0), 400.0)
        pages.append(web_page(rng, int(kb * 1024), blocks, links))
    return pages


def fixture_transcripts(docs: pa.Table, replicate: int, n_convs: int = 50
                        ) -> Tuple[pa.Table, pa.Table]:
    """(transcripts, expected) for ``docs``: the rows that
    ``sources.transcripts.transcripts_from_documents`` builds without
    skew (same conversation/turn mapping and boilerplate page), made
    here so set-up needs no Spark job.  ``expected`` is ``(conv_id,
    turn_idx, expected)`` with the document text as the expected main
    text."""
    from html_parser_spark.sources.transcripts import PAGE_PREFIX, PAGE_SUFFIX

    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts", "expected")}
    for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        turn = doc_id // n_convs
        page = PAGE_PREFIX + text + PAGE_SUFFIX
        ts = EPOCH + timedelta(seconds=17 * doc_id)
        for rep in range(replicate):
            cols["conv_id"].append(f"conv{doc_id % n_convs + rep * n_convs:07d}")
            cols["turn_idx"].append(turn)
            cols["role"].append(("user", "assistant", "tool")[turn % 3])
            cols["text"].append(page)
            cols["tool"].append("browser" if turn % 3 == 2 else "")
            cols["ts"].append(ts)
            cols["expected"].append(text)
    expected = cols.pop("expected")
    table = pa.table(cols, schema=TRANSCRIPT_SCHEMA)
    return table, expected_table(table, expected)


def expected_table(transcripts: pa.Table, expected: List[str]) -> pa.Table:
    return pa.table({"conv_id": transcripts["conv_id"], "turn_idx": transcripts["turn_idx"],
                     "expected": expected})


def web_transcripts(pages: List[WebPage], prefix: str) -> Tuple[pa.Table, pa.Table]:
    """(transcripts, expected) with one generated page per turn, eight
    turns per conversation."""
    n = len(pages)
    table = pa.table({
        "conv_id": [f"{prefix}{i // 8:06d}" for i in range(n)],
        "turn_idx": [i % 8 for i in range(n)],
        "role": [("user", "assistant", "tool")[i % 3] for i in range(n)],
        "text": [p.html for p in pages],
        "tool": ["browser" if i % 3 == 2 else "" for i in range(n)],
        "ts": [EPOCH + timedelta(seconds=i) for i in range(n)],
    }, schema=TRANSCRIPT_SCHEMA)
    return table, expected_table(table, [p.expected for p in pages])


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_input(table: pa.Table, path: str, n_files: int) -> None:
    """Write transcripts as ``n_files`` parquet files of about equal
    ``text`` bytes (largest rows first, each into the lightest file), so
    that no scan task gets more work than another by the luck of the
    seed."""
    heap = [(0, i) for i in range(n_files)]
    bins: List[List[int]] = [[] for _ in range(n_files)]
    sizes = pc.binary_length(table["text"]).to_pylist()
    for row in sorted(range(table.num_rows), key=sizes.__getitem__, reverse=True):
        load, i = heapq.heappop(heap)
        bins[i].append(row)
        heapq.heappush(heap, (load + sizes[row], i))
    for i, rows in enumerate(bins):
        write_parquet(table.take(sorted(rows)), os.path.join(path, f"part-{i:05d}.parquet"))
