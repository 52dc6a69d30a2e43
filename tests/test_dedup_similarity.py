"""Dedup (exact / MinHash-LSH / SimHash / Jaccard), similarity search
(brute force vs IVF), multimodal plumbing, text stats."""

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.dedup import (
    exact_dedup, hamming64, lsh_candidate_pairs, minhash_signatures,
    ngram_jaccard, simhash64,
)
from html_parser_spark.operators.similarity import (
    build_ivf_index, cosine_topk, ivf_topk,
)
from html_parser_spark.operators.textstats import STOPWORDS, lang_id


def md5_vec(seed: str, dim: int = 16):
    """Deterministic pseudo-random vector in [-1, 1) from md5 — shared
    by the embedding-LSH and k-means tests."""
    import hashlib

    return [
        (int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:4], 16) / 32768.0) - 1.0
        for i in range(dim)
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "spark pipelines shuffle data between executors during wide stages"),
        (3, "completely different text about cooking pasta with fresh tomatoes"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (5, "der schnelle braune fuchs springt und das ist ein deutscher satz"),
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


def test_exact_dedup(spark, corpus):
    out = exact_dedup(corpus).orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids and 0 in ids
    assert {r["doc_id"]: r["dup_count"] for r in out}[0] == 2


def test_minhash_lsh_finds_near_dups(spark, corpus):
    sigs = minhash_signatures(corpus, num_hashes=8, shingle_n=3)
    assert sigs.count() == 6 * 8
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 4) in pairset            # exact dup always collides
    assert (0, 1) in pairset or (1, 4) in pairset  # near-dup collides on some band
    assert (2, 3) not in pairset        # unrelated docs don't


def test_jaccard_verification(spark, corpus):
    ids = corpus.select(F.col("doc_id").alias("id"))
    pairs = (
        ids.alias("a").join(ids.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(pairs, corpus).collect()}
    assert j[(0, 4)] == 1.0
    assert j[(0, 1)] > 0.6
    assert j[(2, 3)] == 0.0


def test_simhash_hamming(spark, corpus):
    fp = simhash64(corpus)
    rows = {r["id"]: r["simhash"] for r in fp.collect()}
    a = fp.alias("a").join(fp.alias("b"), F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("ia"), F.col("b.id").alias("ib"),
        hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
    )
    d = {(r["ia"], r["ib"]): r["d"] for r in a.collect()}
    assert rows[0] == rows[4] and d[(0, 4)] == 0
    assert d[(0, 1)] < d[(0, 3)]  # near-dup closer than unrelated


def test_cosine_topk_and_ivf(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    brute = cosine_topk(emb, q, k=5).collect()
    assert brute[0]["vec_id"] == 7 and abs(brute[0]["cosine"] - 1.0) < 1e-6
    assert all(brute[i]["cosine"] >= brute[i + 1]["cosine"] for i in range(4))

    indexed, cents = build_ivf_index(emb, num_cells=4)
    assert indexed.groupBy("cell").count().count() >= 2  # vectors spread over cells
    approx = ivf_topk(indexed, cents, q, k=5, nprobe=4)  # nprobe=all ⇒ exact
    assert [r["vec_id"] for r in approx.collect()] == [r["vec_id"] for r in brute]
    # pruned probe still returns k results
    got = ivf_topk(indexed, cents, q, k=5, nprobe=2).collect()
    assert len(got) == 5
    # empty input: a clear error, not an IndexError on the centroids
    with pytest.raises(ValueError, match="empty"):
        build_ivf_index(emb.where(F.lit(False)), num_cells=4)


def test_dup_clusters_connected_components(spark):
    from html_parser_spark.operators.dedup import dup_clusters

    # two chains and a triangle: {1-2-3-4}, {10-11}, {20-21-22 triangle}
    edges = [(2, 1), (2, 3), (4, 3), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_simhash_band_pairs_exact_vs_brute(spark):
    from html_parser_spark.operators.dedup import simhash_band_pairs

    # synthetic 60-bit fingerprints with planted hamming 0..4 neighbors
    base = 0x0F0F0F0F0F0F0F
    rows = [
        (0, base),
        (1, base),                       # h=0
        (2, base ^ (1 << 5)),            # h=1
        (3, base ^ (1 << 5) ^ (1 << 40)),  # h=2 from 0
        (4, base ^ 0b111),               # h=3
        (5, base ^ (0b11111 << 20)),     # h=5 — beyond threshold
        (6, 0x2AAAAAAAAAAAAA),           # far away
    ]
    fp = spark.createDataFrame(rows, ["id", "simhash"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(fp, bands=4, bits=60, max_hamming=3).collect()
    }
    # brute-force expectation
    want = {}
    for i, (ia, fa) in enumerate(rows):
        for ib, fb in rows[i + 1:]:
            h = bin(fa ^ fb).count("1")
            if h <= 3:
                want[(ia, ib)] = h
    assert got == want          # pigeonhole: banded == all-pairs for h <= bands-1
    assert (0, 1) in got and got[(0, 1)] == 0
    assert (0, 5) not in got
    with pytest.raises(ValueError):
        simhash_band_pairs(fp, bands=4, max_hamming=4)


def test_embedding_neardup_banded_lsh(spark):
    from html_parser_spark.operators.dedup import (
        embedding_lsh_signatures, embedding_near_dups,
    )

    # planted near-identical pair (0, 1) among deterministic pseudo-random vectors
    base = md5_vec("a")
    rows = [(0, base), (1, [x * 1.01 + 0.001 for x in base])] + [
        (i, md5_vec(f"r{i}")) for i in range(2, 40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    sigs = embedding_lsh_signatures(emb, bands=4, band_bits=8)
    assert sigs.count() == 40 * 4                       # one row per (id, band)
    assert sigs.select("key").distinct().count() > 4    # multi-bit keys, not a sign bit
    # the near-identical pair shares every band key
    kv = {(r["id"], r["band"]): r["key"] for r in sigs.collect()}
    assert all(kv[(0, b)] == kv[(1, b)] for b in range(4))

    out = embedding_near_dups(emb, threshold=0.95, bands=4, band_bits=8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs
    for r in out:
        assert r["cosine"] >= 0.95


def test_repetition_stats(spark):
    from html_parser_spark.operators.textstats import repetition_stats

    rows = [
        (0, "a normal short document with distinct words only here"),
        (1, "line one\nline two\nline one\nline one"),       # 2/4 lines dupes
        (2, "spam spam spam spam spam and more spam spam"),  # loop-y bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: r for r in repetition_stats(df).collect()}
    assert got[0]["n_lines"] == 1 and got[0]["dup_line_frac"] == 0.0
    assert got[1]["n_lines"] == 4 and got[1]["dup_line_frac"] == 0.5
    # doc 2: 9 words -> 8 bigrams, "spam spam" appears 5x -> 5/8
    assert got[2]["top_ngram_share"] == 0.625
    assert got[0]["top_ngram_share"] < 0.2


def test_contamination_check(spark):
    from html_parser_spark.operators.textstats import contamination_check

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame([
        (0, "prefix words then the quick brown fox jumps over the lazy dog tonight and more"),
        (1, "a completely unrelated document about cooking pasta with many fresh tomatoes today"),
    ], ["doc_id", "text"])
    got = {r["id"]: r for r in contamination_check(corpus, bench, ngram_n=8).collect()}
    assert got[0]["contaminated"] and got[0]["n_hits"] >= 1
    assert not got[1]["contaminated"] and got[1]["n_hits"] == 0
    # min_hits raises the bar
    strict = {r["id"]: r["contaminated"]
              for r in contamination_check(corpus, bench, ngram_n=8,
                                           min_hits=100).collect()}
    assert strict == {0: False, 1: False}


def test_lang_id_heuristic(spark, corpus):
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(corpus).collect()}
    assert out[0] == "en"
    assert out[5] == "de"
    assert out[3] in ("en", "und")  # english-ish text without many stopwords


def test_multimodal_feature_plumbing(spark):
    """Opaque payloads (``synth_assets``) keep ``n_bytes`` and
    ``content_hash`` of the whole payload and get NULL decode features:
    the operator runs the real decoder, and it knows no such format."""
    import hashlib

    from html_parser_spark.operators.multimodal import (
        decode_real, extract_features, synth_assets,
    )

    assets = synth_assets(spark, n=32)
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    rows = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert set(rows) == set(payloads) and len(rows) == 32
    for i, r in rows.items():
        assert r["n_bytes"] == len(payloads[i])
        assert r["content_hash"] == hashlib.md5(payloads[i]).hexdigest()
        assert (r["width"], r["height"], r["histogram"]) == (None, None, None)
        with pytest.raises(NotImplementedError):
            decode_real(payloads[i])    # unknown magic raises


def test_multimodal_real_stdlib_decoders(spark):
    """Round-3: decode_real REALLY decodes PPM/PGM, 24bpp BMP, and PCM
    WAV with stdlib only; undecodable payloads yield NULL features (not
    a task failure) through the Spark path."""
    from html_parser_spark.operators.multimodal import (
        ASSET_SCHEMA, decode_real, extract_features,
    )
    from support import synth_bmp, synth_ppm, synth_wav

    # PPM: dims from the synth formula; histogram = digit/letter bins only
    w, h, hist = decode_real(synth_ppm(5))
    assert (w, h) == (4 + 5 % 5, 3 + 5 % 4)
    assert abs(sum(hist) - 1.0) < 1e-3
    assert hist[3] + hist[6] > 0.999          # ASCII hexdigest pixels
    # PGM variant with a comment line
    pgm = b"P5\n# a comment\n3 2\n255\n" + bytes(range(6))
    assert decode_real(pgm)[:2] == (3, 2)

    # BMP: padded bottom-up rows, padding excluded from the histogram
    w, h, hist = decode_real(synth_bmp(7))
    assert (w, h) == (2 + 7 % 4, 2 + 7 % 3)
    assert abs(sum(hist) - 1.0) < 1e-3

    # WAV: width=rate, height=channels
    rate, ch, hist = decode_real(synth_wav(3))
    assert (rate, ch) == (8000, 1)
    assert abs(sum(hist) - 1.0) < 1e-3

    # PNG: all five filter types and all four color types must
    # reconstruct the SAME pixels (identical histogram), proving the
    # filter reconstruction is real, not pass-through
    from support import synth_png

    for color in (0, 2, 4, 6):
        base = decode_real(synth_png(9, color=color, filter_type=0))
        assert base[0] == 3 + 9 % 5 and base[1] == 2 + 9 % 4
        for ft in (1, 2, 3, 4):
            got = decode_real(synth_png(9, color=color, filter_type=ft))
            assert got == base, (color, ft)
    # interlaced / 16-bit PNGs are declared out of scope, not mis-decoded
    import struct as _s
    import zlib as _z
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlace=1
    bad = (b"\x89PNG\r\n\x1a\n"
           + _s.pack(">I", len(ihdr)) + b"IHDR" + ihdr
           + _s.pack(">I", _z.crc32(b"IHDR" + ihdr)))
    with pytest.raises(NotImplementedError):
        decode_real(bad)

    # zlib bomb: tiny IDAT inflating to 10 MB with 2x2 declared dims
    # must decode bounded (only the declared pixels are inflated)
    def chunk(ctype, data):
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", _z.crc32(ctype + data)))
    bomb_ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bomb_ihdr)
            + chunk(b"IDAT", _z.compress(bytes(10_000_000)))
            + chunk(b"IEND", b""))
    w, h, hist = decode_real(bomb)
    assert (w, h) == (2, 2) and hist[0] == 1.0   # zeros, bounded inflate

    # malformed BMP header (negative width) raises -> NULL features,
    # not garbage dimensions
    bad_bmp = bytearray(synth_bmp(1))
    _s.pack_into("<i", bad_bmp, 18, -5)
    with pytest.raises(ValueError):
        decode_real(bytes(bad_bmp))

    # Spark path: mixed decodable + junk payloads → junk gets NULL dims
    rows = [
        (0, "image", bytearray(synth_ppm(0)), None),
        (1, "image", bytearray(synth_bmp(1)), None),
        (2, "audio", bytearray(synth_wav(2)), None),
        (3, "image", bytearray(b"\x89PNG not actually decodable"), None),
        (4, "image", bytearray(b"P6\n9 9\n255\nshort"), None),  # truncated
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in
           extract_features(assets).collect()}
    assert got[0]["width"] == 4 and got[0]["height"] == 3
    assert got[1]["width"] == 3 and got[1]["height"] == 3
    assert got[2]["width"] == 8000 and got[2]["height"] == 1
    for bad in (3, 4):
        assert got[bad]["width"] is None and got[bad]["histogram"] is None
        assert got[bad]["n_bytes"] > 0 and got[bad]["content_hash"]


def test_extract_features_decodes_payload_whatever_its_kind(spark):
    """The decode reads the payload alone: a NULL ``kind`` neither
    nulls the features of a payload that decodes nor is consulted."""
    from html_parser_spark.operators.multimodal import extract_features
    from support import synth_ppm

    assets = spark.createDataFrame(
        [(0, None, bytearray(synth_ppm(0))), (1, "audio", bytearray(synth_ppm(1)))],
        "asset_id long, kind string, payload binary")
    got = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert (got[0]["kind"], got[0]["width"], got[0]["height"]) == (None, 4, 3)
    assert (got[1]["width"], got[1]["height"]) == (4 + 1 % 5, 3 + 1 % 4)
    assert abs(sum(got[0]["histogram"]) - 1.0) < 1e-3


def test_normalize_text(spark):
    from html_parser_spark.operators.textstats import normalize_text

    rows = [
        (0, "Café  DOUBLE  space"),   # decomposed accent + runs of spaces
        (1, "tab\there\x01ctrl"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["norm_text"] for r in normalize_text(df).collect()}
    assert out[0] == "café double space"   # NFC-composed, lowered, collapsed
    assert out[1] == "tabherectrl"
    assert out[2] is None


def test_top_ngrams(spark):
    from html_parser_spark.operators.textstats import top_ngrams

    rows = [
        (0, "a b c"), (1, "a b d"), (2, "a b c"),   # "a b" in 3 docs, "b c" in 2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["ngram"], r["doc_freq"]) for r in top_ngrams(df, n=2, k=3).collect()]
    assert got[0] == ("a b", 3)
    assert got[1] == ("b c", 2)
    assert got[2] == ("b d", 1)


def test_curate_corpus_first_reason_accounting(spark):
    from html_parser_spark.operators.curate import curate_corpus, curation_stats

    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs to the river again and again for fun today", "en"),
        (1, "the quick brown fox jumps over the lazy dog and runs to the river again and again for fun today", "en"),  # duplicate of 0
        (2, "short text", "en"),                                    # too_short
        (3, " ".join(["der schnelle braune fuchs springt heute"] * 5), "de"),  # wrong_lang (passes quality)
        (4, "!!! ??? ;;; ::: @@@ ### $$$ %%% ^^^ &&& *** ((( ))) [[[ ]]] {{{ }}} <<< >>> ???", "en"),  # low_quality
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    cur = curate_corpus(df, quality_threshold=0.4, langs=("en",), min_tokens=5, lang_col="lang")
    got = {r["doc_id"]: r["drop_reason"] for r in cur.collect()}
    assert got[0] is None                      # canonical copy kept
    assert got[1] == "duplicate"
    assert got[2] == "too_short"
    assert got[3] == "wrong_lang"
    assert got[4] == "low_quality"
    stats = {r["reason"]: r["n_docs"] for r in curation_stats(cur).collect()}
    assert stats == {"kept": 1, "duplicate": 1, "too_short": 1,
                     "wrong_lang": 1, "low_quality": 1}
    # heuristic language fallback path (no metadata column)
    cur2 = curate_corpus(df.drop("lang"), quality_threshold=0.0, langs=("en",),
                         min_tokens=1)
    got2 = {r["doc_id"]: r["drop_reason"] for r in cur2.collect()}
    assert got2[3] == "wrong_lang"             # german detected by stopwords
    assert got2[0] is None
    # empty allowlist is a caller error, not a silent isin() crash
    with pytest.raises(ValueError, match="non-empty"):
        curate_corpus(df, langs=())
    # NULL lang metadata keeps the row (SQL 3VL, matches the oracle)
    nl = spark.createDataFrame(
        [(0, " ".join(["plenty of words here to pass the floor"] * 3), None)],
        "doc_id int, text string, lang string")
    kept = curate_corpus(nl, quality_threshold=0.0, langs=("en",),
                         min_tokens=1, lang_col="lang").collect()[0]
    assert kept["drop_reason"] is None


def test_dup_clusters_raises_on_nonconvergence(spark):
    from html_parser_spark.operators.dedup import dup_clusters

    chain = [(i, i + 1) for i in range(8)]  # diameter 8 path
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iter=2)
    got = {r["id"]: r["cluster_id"]
           for r in dup_clusters(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(9)}


def test_dup_clusters_converges_exactly_at_budget(spark):
    """Convergence completing on the final allowed round must not raise
    (the stability check distinguishes it from real non-convergence)."""
    from html_parser_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["id_a", "id_b"])  # diameter 2
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs, max_iter=2).collect()}
    assert got == {0: 0, 1: 0, 2: 0}


def test_dup_clusters_large_star_chain_component(spark):
    """10k-node pathological component (9k-leaf star + 1k-link chain
    hanging off the hub): pointer jumping converges in O(log diameter)
    rounds — a plain min-propagation would need ~1000 rounds for the
    chain and blow the budget.  Per-round shuffle volume stays at
    |E| + 2|V| rows (no m² blowup for the huge star)."""
    from html_parser_spark.operators.dedup import dup_clusters

    n_star, n_chain = 9000, 1000
    hub = n_chain  # chain ids 0..n_chain, hub at the end, star leaves above
    edges = [(i, i + 1) for i in range(n_chain)]                # chain 0-1-...-hub
    edges += [(hub, hub + 1 + j) for j in range(n_star)]        # star leaves
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(8)
    labels = dup_clusters(pairs, max_iter=15)  # ~log2(1000)+const rounds needed
    assert labels.count() == n_star + n_chain + 1
    assert {r["cluster_id"] for r in labels.select("cluster_id").distinct().collect()} == {0}


def test_banded_join_hot_bucket_cap(spark):
    """The Manku-style hot-bucket guard: a bucket of 1k identical
    fingerprints would emit ~500k join rows; with max_bucket_size the
    candidate output is bounded and the skipped bucket is accounted."""
    from html_parser_spark.operators.dedup import (
        lsh_banded_signatures, lsh_candidate_pairs, minhash_signatures,
        oversize_band_buckets, simhash_band_pairs,
    )

    # 1000 identical simhashes + a small honest near-dup pair far away
    base = 0x0F0F0F0F0F0F0F
    rows = [(i, base) for i in range(1000)]
    rows += [(2000, 0x2AAAAAAAAAAAAA), (2001, 0x2AAAAAAAAAAAAA ^ (1 << 3))]
    fp = spark.createDataFrame(rows, ["id", "simhash"])

    capped = simhash_band_pairs(fp, bands=4, bits=60, max_hamming=3,
                                max_bucket_size=16).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in capped}
    assert (2000, 2001) in pairset            # small buckets still join
    assert len(pairset) == 1                  # the 1k hot bucket emitted nothing
    # uncapped the same input emits ~500k pairs — check on a 100-row slice
    uncapped = simhash_band_pairs(
        fp.where(F.col("id") < 100), bands=4, bits=60, max_hamming=3).count()
    assert uncapped == 100 * 99 // 2

    # accounting twin surfaces exactly the dropped buckets
    sigs = minhash_signatures(
        spark.createDataFrame([(i, "same text repeated here") for i in range(50)]
                              + [(100, "another unique document entirely")],
                              ["doc_id", "text"]),
        num_hashes=8, shingle_n=3)
    banded = lsh_banded_signatures(sigs, rows_per_band=2)
    over = oversize_band_buckets(banded, max_bucket_size=10).collect()
    assert len(over) == 4 and all(r["n_members"] == 50 for r in over)
    assert lsh_candidate_pairs(sigs, bands=4, rows_per_band=2,
                               max_bucket_size=10).count() == 0


def test_embedding_lsh_literal_planes(spark):
    """Round-3 fix: plane signs are precomputed driver-side — the
    physical plan contains ZERO md5 calls, and empty input is safe."""
    import io
    from contextlib import redirect_stdout

    from html_parser_spark.operators.dedup import (
        embedding_lsh_signatures, plane_sign_matrix,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5, 3.0]), (1, [0.9, -2.1, 0.6, 2.9])],
        ["vec_id", "embedding"])
    sigs = embedding_lsh_signatures(emb, bands=2, band_bits=4, dim=4)
    buf = io.StringIO()
    with redirect_stdout(buf):
        sigs.explain("formatted")
    assert "md5" not in buf.getvalue().lower()
    assert sigs.count() == 4                  # 2 ids × 2 bands
    # the ±1 matrix is the md5-parity formula, reproducible
    m = plane_sign_matrix(2, 3)
    assert all(s in (1.0, -1.0) for row in m for s in row)
    assert m == plane_sign_matrix(2, 3)
    # empty input short-circuits the dim probe
    empty = embedding_lsh_signatures(emb.where(F.lit(False)), bands=2, band_bits=4)
    assert empty.count() == 0
    assert empty.columns == ["id", "band", "key"]


def test_plan_build_round_trips(spark, sf_dir):
    """The per-row rules reach the JVM as SQL text, so building the
    gated queries' SimHash plan takes a few hundred py4j commands and
    the embedding near-dup plan under a hundred (~12,000 and ~8,300 when
    the 60 votes and the 16 plane projections were Column chains, ~12
    commands per method; ~480 while the banded join and the vector
    joins' selects still were)."""
    from html_parser_spark.operators.dedup import embedding_near_dups

    from support import jvm_round_trips

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(F.col("doc_id") < 200)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(F.col("vec_id") < 200)
    with jvm_round_trips() as n:
        simhash64(docs, bits=60)
    assert 0 < n[0] <= 1000
    with jvm_round_trips() as n:
        embedding_near_dups(emb, threshold=0.3, bands=4, band_bits=4, dim=64)
    assert 0 < n[0] <= 150


def test_embedding_lsh_null_and_ragged_vectors(spark):
    """Review findings: a NULL embedding in the probed first row must
    not crash the dim probe, and ragged vectors must be EXCLUDED (not
    silently all hashed to band key 0, which would pair every malformed
    row with every other)."""
    from html_parser_spark.operators.dedup import (
        embedding_lsh_signatures, embedding_near_dups,
    )

    rows = [(0, None), (1, [1.0, -2.0, 0.5, 3.0]), (2, [1.0, -2.0]),
            (3, [1.1, -2.1, 0.6, 3.1])]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    sigs = embedding_lsh_signatures(emb, bands=2, band_bits=4)
    ids = {r["id"] for r in sigs.collect()}
    assert ids == {1, 3}                       # NULL and 2-dim rows excluded
    # near-dup pair between the two valid 4-dim vectors still found
    pairs = {(r["id_a"], r["id_b"])
             for r in embedding_near_dups(emb, threshold=0.9, bands=2,
                                          band_bits=4).collect()}
    assert pairs == {(1, 3)}
    # all-NULL input: empty output, no crash
    allnull = spark.createDataFrame([(0, None), (1, None)],
                                    "vec_id int, embedding array<double>")
    assert embedding_lsh_signatures(allnull, bands=2, band_bits=4).count() == 0


def test_embedding_lsh_dim_probe_is_mode_not_max(spark):
    """Second-pass review finding: one corrupt OVERSIZED vector must
    not hijack the dim probe (a max() probe would exclude the whole
    well-formed corpus); the mode-of-sizes probe keeps the majority."""
    from html_parser_spark.operators.dedup import embedding_lsh_signatures

    rows = [(i, [float(i), 1.0, -1.0]) for i in range(10)]
    rows.append((99, [9.0] * 1024))            # one corrupt dim-1024 row
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    sigs = embedding_lsh_signatures(emb, bands=2, band_bits=4)
    ids = {r["id"] for r in sigs.collect()}
    assert ids == set(range(10))               # majority kept, glitch excluded


def test_multimodal_hardening_round4():
    """Round-4 advice items: CRLF-terminated PPM headers decode
    correctly (not shifted by one byte), a PNG zlib bomb declaring huge
    dims is rejected BEFORE inflating, and a non-whitespace byte after
    the PPM maxval raises instead of silently mis-slicing pixels."""
    import struct as _s
    import zlib as _z

    from html_parser_spark.operators.multimodal import decode_real
    from support import synth_ppm

    # CRLF after maxval (Windows-written Netpbm): one delimiter, pixels
    # must not shift — decode equals the LF-delimited twin
    lf = synth_ppm(5)
    header_end = lf.index(b"255\n") + 4
    crlf = lf[:header_end - 1] + b"\r\n" + lf[header_end:]
    assert decode_real(crlf) == decode_real(lf)

    # non-whitespace after maxval: malformed header raises (never a
    # silently wrong histogram) — the junk byte merges into the maxval
    # token and fails the int() parse; a header that ENDS at maxval
    # (i == n) hits the explicit missing-delimiter check
    bad = lf[:header_end - 1] + b"X" + lf[header_end:]
    with pytest.raises(ValueError):
        decode_real(bad)
    with pytest.raises(ValueError, match="whitespace|truncated"):
        decode_real(lf[:header_end - 1])

    # zlib bomb with huge DECLARED dims (1<<20 x 1<<20 passes the
    # per-axis caps; expected would be ~4e12 bytes): the pixel budget
    # must reject before zlib allocates anything
    def chunk(ctype, data):
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", _z.crc32(ctype + data)))
    ihdr = _s.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0)
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(bytes(1 << 20)))
            + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="pixel budget"):
        decode_real(bomb)


def test_correctness_gate_nan_vs_null_asymmetry():
    """Round-4 advice: the local gate's canon() must keep a REAL
    Spark-side NaN distinct from NULL (so NaN-vs-NULL divergences go
    red) while still folding the oracle pandas path's NULL→NaN decay
    into the null tag."""
    from tools.check_correctness import canon

    spark_nan = canon([(float("nan"),)], ["x"], side="spark")
    spark_null = canon([(None,)], ["x"], side="spark")
    oracle_nan = canon([(float("nan"),)], ["x"], side="oracle")
    # oracle NaN is an undistinguishable NULL; Spark NaN is computed
    assert oracle_nan == spark_null
    assert spark_nan != spark_null
    assert spark_nan == [(("float", "nan"),)]


def test_ivf_topk_batch_matches_single_and_brute(spark, sf_dir):
    """Round-4: the batched IVF path must return, for every query in
    the batch, EXACTLY the rows the single-query path returns at the
    same nprobe — and with nprobe = num_cells it must equal exact
    brute force.  Also pins the output contract (rank is 1-based,
    dense per query, ties on id asc)."""
    from html_parser_spark.operators.similarity import (
        build_ivf_index, cosine_topk, ivf_topk, ivf_topk_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    corpus = emb.where(F.col("vec_id") >= 6)
    indexed, cents = build_ivf_index(corpus, num_cells=4)
    qvecs = {r["query_id"]: [float(x) for x in r["query_vec"]]
             for r in queries.collect()}

    batch = ivf_topk_batch(indexed, cents, queries, k=3, nprobe=2)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    assert set(got) == set(qvecs)
    for qid, rows in got.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3]      # dense 1-based ranks
        single = ivf_topk(indexed, cents, qvecs[qid], k=3, nprobe=2).collect()
        assert [(r["vec_id"], r["cosine"]) for r in single] == \
            [(vid, cos) for _, vid, cos in rows], qid

    # probe-all == exact brute force for every query in the batch
    full = ivf_topk_batch(indexed, cents, queries, k=3, nprobe=4)
    gotf = {}
    for r in full.collect():
        gotf.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, rows in gotf.items():
        rows.sort()
        brute = [r["vec_id"] for r in cosine_topk(corpus, qvecs[qid], k=3).collect()]
        assert [vid for _, vid in rows] == brute, qid


def test_ivf_ranks_cells_one_way_with_a_zero_centroid(spark):
    """Assignment and both probes rank cells by one rule (round-9
    cosine, NaN last, lower cell on ties).  With the lowest-id vector
    all zeros, its centroid scores NaN against every vector: each
    vector's first probed cell must still be its own cell, and both
    searches must return k rows."""
    import numpy as np

    from html_parser_spark.operators.similarity import ivf_topk_batch

    vecs = np.random.default_rng(7).standard_normal((200, 8))
    vecs[0] = 0.0
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)],
                               "vec_id long, embedding array<double>")
    indexed, cents = build_ivf_index(df, num_cells=4)
    queries = df.where("vec_id > 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    # with one probe a vector finds itself only in its own cell
    top1 = ivf_topk_batch(indexed, cents, queries, k=1, nprobe=1).collect()
    assert sorted((r["query_id"], r["vec_id"]) for r in top1) == \
        [(i, i) for i in range(1, 200)]
    for i in (1, 99, 199):
        assert [r["vec_id"] for r in
                ivf_topk(indexed, cents, vecs[i].tolist(), k=1, nprobe=1).collect()] == [i]
    assert ivf_topk_batch(indexed, cents, queries.where("query_id <= 3"),
                          k=5, nprobe=2).count() == 15
    assert ivf_topk(indexed, cents, vecs[1].tolist(), k=5, nprobe=2).count() == 5


def test_ivf_index_cell_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF docstrings claim cells are a partition column so
    non-probed cells are pruned at the source — prove it: write the
    index partitioned by cell, query through it, and check (a) the
    scan only touches the probed cells' files, (b) the plan carries
    PartitionFilters, (c) results equal the in-memory path."""
    import io
    from contextlib import redirect_stdout

    from html_parser_spark.operators.similarity import (
        build_ivf_index, ivf_topk, ivf_topk_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") >= 6)
    indexed, cents = build_ivf_index(corpus, num_cells=8)
    out = str(tmp_path / "ivf_index")
    indexed.write.partitionBy("cell").parquet(out)
    disk = spark.read.parquet(out)

    q = [float(x) for x in
         emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]

    # (a) a cell filter only scans the matching cells' files
    # (input_file_name() must be read before any shuffle — it is empty after
    # an exchange, which is also why it can't be read off the top-k)
    pruned = disk.where(F.col("cell").isin([0, 3]))
    files = [r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()]
    assert files, "no rows came back"
    probed = {f.split("cell=")[1].split("/")[0] for f in files}
    assert probed <= {"0", "3"}, probed

    # (b) the pushed filter reaches the scan as a partition filter
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()

    # (c) identical results through the partitioned index — single and
    # batched paths both
    top_disk = ivf_topk(disk, cents, q, k=5, nprobe=2)
    mem = ivf_topk(indexed, cents, q, k=5, nprobe=2).collect()
    assert top_disk.collect() == mem
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    got_disk = sorted(map(tuple, ivf_topk_batch(disk, cents, queries).collect()))
    got_mem = sorted(map(tuple, ivf_topk_batch(indexed, cents, queries).collect()))
    assert got_disk == got_mem


def test_cosine_of_a_zero_vector_is_null(spark):
    """A zero-norm vector's cosine is NULL (0/0, as the DuckDB twins
    compute it), not a DIVIDE_BY_ZERO failure under ANSI mode, in every
    operator that scores cosine.  The two zero vectors are the IVF
    centroids, so every vector, zero or not, lands in one cell and is
    scored; they also share every LSH band key, so they are a near-dup
    candidate pair."""
    from html_parser_spark.operators.dedup import embedding_near_dups
    from html_parser_spark.operators.similarity import ivf_topk_batch, with_cosine

    rows = [(0, [0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]), (4, [1.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0]
    cos = {r["vec_id"]: r["cosine"] for r in with_cosine(df, q).collect()}
    assert cos == {0: None, 1: None, 2: 1.0, 3: 0.0, 4: 0.707107}
    order = [2, 4, 3, 0, 1]  # NULL last, ties by id
    assert [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()] == order
    indexed, cents = build_ivf_index(df, num_cells=2)
    assert [r["vec_id"] for r in ivf_topk(indexed, cents, q, k=5, nprobe=2).collect()] == order
    queries = spark.createDataFrame([(7, q), (8, [0.0, 0.0, 0.0])],
                                    "query_id long, query_vec array<double>")
    top = ivf_topk_batch(indexed, cents, queries, k=5, nprobe=2).collect()
    assert [r["vec_id"] for r in top if r["query_id"] == 7] == order
    assert {r["cosine"] for r in top if r["query_id"] == 8} == {None}
    pairs = embedding_near_dups(df, threshold=0.5, bands=2, band_bits=4).collect()
    assert all(r["cosine"] is not None for r in pairs)
