"""Property-based tests for the round-2 operators.

Spark-free where possible (the pure kernels); the distributed ops take
the session-scoped ``spark`` fixture (hypothesis allows session-scoped
fixtures as plain params — only function-scoped ones trip its health
check) so all tests share the conftest session with its pinned UTC
timezone.  Plain-Python reference implementations are the oracles.
"""

import zlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from html_parser_spark.kernel import MAX_DOC_BYTES
from html_parser_spark.kernel.pdftext import (
    _decode_stream, extract_pdf_text, synth_pdf,
)

# ---------------------------------------------------------------------------
# PDF kernel
# ---------------------------------------------------------------------------

pdf_line = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\r\n"),
    min_size=0, max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(pdf_line, min_size=1, max_size=8), st.booleans())
def test_pdf_roundtrip_any_unicode(lines, compress):
    r = extract_pdf_text(synth_pdf(lines, compress=compress))
    assert r.lines == lines


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_pdf_never_raises_on_arbitrary_bytes(data):
    r = extract_pdf_text(data)
    assert isinstance(r.text, str)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=200))
def test_pdf_never_raises_on_pdf_shaped_garbage(body):
    wrapped = (b"1 0 obj\n<< /Length " + str(len(body)).encode()
               + b" /Filter /FlateDecode >>\nstream\n" + body + b"\nendstream\nendobj")
    r = extract_pdf_text(wrapped)
    assert isinstance(r.text, str)
    # the predicate must mirror _decode_stream (strict decompress PLUS
    # the partial-decode fallback): only when both fail can no runs
    # possibly be produced — a truncated-but-valid prefix is decodable
    if _decode_stream(b"/FlateDecode", body, MAX_DOC_BYTES) is None:
        assert r.n_runs == 0


def test_pdf_truncated_valid_zlib_still_decodes():
    """Pinned counterexample: strict zlib.decompress raises on a
    truncated stream but the decompressobj fallback recovers the
    prefix — the kernel must extract, not drop."""
    import pytest

    body = zlib.compress(b"BT 72 700 Td (HELLO) Tj ET")[:-3]
    with pytest.raises(zlib.error):
        zlib.decompress(body)
    wrapped = (b"1 0 obj\n<< /Length " + str(len(body)).encode()
               + b" /Filter /FlateDecode >>\nstream\n" + body + b"\nendstream\nendobj")
    r = extract_pdf_text(wrapped)
    assert r.lines == ["HELLO"]


def test_pdf_explicit_latin1_encoding():
    """encoding='latin-1' escape hatch: bytes that happen to form valid
    UTF-8 stay two latin-1 characters instead of being composed."""
    content = b"BT 72 700 Td (\xc3\xa9) Tj ET"
    raw = (b"1 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj")
    assert extract_pdf_text(raw).lines == ["é"]                  # auto: UTF-8 wins
    assert extract_pdf_text(raw, encoding="latin-1").lines == ["Ã©"]


# ---------------------------------------------------------------------------
# banded SimHash: pigeonhole exactness vs brute force
# ---------------------------------------------------------------------------

@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(fps=st.lists(st.integers(min_value=0, max_value=(1 << 60) - 1),
                    min_size=2, max_size=12, unique=True))
def test_simhash_band_pairs_matches_bruteforce(spark, fps):
    from html_parser_spark.operators.dedup import simhash_band_pairs

    rows = list(enumerate(fps))
    df = spark.createDataFrame(rows, ["id", "simhash"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(df, bands=4, bits=60, max_hamming=3).collect()
    }
    want = {}
    for i, (ia, fa) in enumerate(rows):
        for ib, fb in rows[i + 1:]:
            h = bin(fa ^ fb).count("1")
            if h <= 3:
                want[(ia, ib)] = h
    assert got == want


# ---------------------------------------------------------------------------
# dup_clusters vs plain union-find
# ---------------------------------------------------------------------------

@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=15), st.integers(min_value=0, max_value=15))
    .filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=20,
))
def test_dup_clusters_matches_union_find(spark, edges):
    from html_parser_spark.operators.dedup import dup_clusters

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(norm, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(df, max_iter=20).collect()}

    # reference union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


# ---------------------------------------------------------------------------
# embedding banded LSH (round-3 literal-plane path) vs plain Python
# ---------------------------------------------------------------------------

def _py_band_keys(vec, bands, band_bits):
    """Plain-Python reference of the banded hyperplane signature: same
    md5-parity plane formula, same left-to-right projection sum."""
    import hashlib

    def sign(k, i):
        return 1.0 if int(hashlib.md5(f"plane:{k}:{i}".encode()).hexdigest()[:4], 16) % 2 == 0 else -1.0

    keys = []
    for b in range(bands):
        key = 0
        for j in range(band_bits):
            k = b * band_bits + j
            proj = 0.0
            for i, x in enumerate(vec):
                proj += x * sign(k, i)
            if proj >= 0:
                key |= 1 << j
        keys.append(key)
    return keys


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vecs=st.lists(
    st.lists(st.integers(min_value=-8, max_value=8).map(float), min_size=3, max_size=3),
    min_size=2, max_size=8,
))
def test_embedding_lsh_matches_python_reference(spark, vecs):
    """Literal-plane signatures == plain-Python reference (integer-
    valued vectors keep the float fold order irrelevant), and the
    candidate set == brute-force share-any-band-key pairs."""
    from html_parser_spark.operators.dedup import (
        _banded_candidate_pairs, embedding_lsh_signatures,
    )

    BANDS, BITS = 2, 4
    rows = list(enumerate(vecs))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sigs = embedding_lsh_signatures(emb, bands=BANDS, band_bits=BITS, dim=3)
    got = {(r["id"], r["band"]): r["key"] for r in sigs.collect()}
    want = {(i, b): k for i, v in rows for b, k in enumerate(_py_band_keys(v, BANDS, BITS))}
    assert got == want

    pairs = {(r["id_a"], r["id_b"]) for r in _banded_candidate_pairs(sigs).collect()}
    brute = set()
    for i, va in rows:
        ka = _py_band_keys(va, BANDS, BITS)
        for j, vb in rows[i + 1:]:
            kb = _py_band_keys(vb, BANDS, BITS)
            if any(a == b for a, b in zip(ka, kb)):
                brute.add((i, j))
    assert pairs == brute
