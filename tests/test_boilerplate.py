"""Site-level boilerplate removal (operators/boilerplate.py) — the
corpus-frequency block dedup contract.

The reference strips boilerplate within one document; this operator
uses the cross-document signal only a distributed corpus has.  Pins:
block definition (outermost match, non-empty, document order),
threshold/min_docs semantics, all-boilerplate reassembly, and the
count columns.
"""

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.boilerplate import (
    block_frame, remove_boilerplate, text_blocks_udf,
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "host", "html"])


def test_blocks_outermost_nonempty_document_order(spark):
    html = ("<div><h1> T </h1><blockquote><p>q1</p><p>q2</p></blockquote>"
            "<p></p><ul><li>a</li><li>b</li></ul><p>tail</p></div>")
    df = _corpus(spark, [("d", "h", html)])
    got = df.select(text_blocks_udf()(F.col("html")).alias("b")).collect()[0]["b"]
    # blockquote swallows its inner <p>s (and its text concatenates
    # with NO separator — the pinned reference innerText model); the
    # empty <p> vanishes; pos renumbers survivors in document order
    assert [(x["pos"], x["text"]) for x in got] == [
        (0, "T"), (1, "q1q2"), (2, "a"), (3, "b"), (4, "tail")]


def test_threshold_is_inclusive_and_min_docs_guards(spark):
    # 4 docs on host A: "HALF" appears in exactly 2/4 = 0.5 -> dropped
    # at threshold 0.5 (inclusive).  Host B has one doc: ratio 1.0 but
    # min_docs=2 keeps everything.
    rows = [
        ("a0", "A", "<p>HALF</p><p>u a0</p>"),
        ("a1", "A", "<p>HALF</p><p>u a1</p>"),
        ("a2", "A", "<p>u a2</p>"),
        ("a3", "A", "<p>u a3</p>"),
        ("b0", "B", "<p>solo</p>"),
    ]
    out = {r["doc_id"]: r for r in
           remove_boilerplate(_corpus(spark, rows)).collect()}
    assert out["a0"]["main_text"] == "u a0"
    assert out["a1"]["n_blocks_dropped"] == 1
    assert out["a2"]["main_text"] == "u a2"
    assert out["b0"]["main_text"] == "solo"
    assert out["b0"]["n_blocks_dropped"] == 0


def test_all_boilerplate_doc_survives_with_empty_text(spark):
    rows = [("d0", "h", "<p>same</p>"), ("d1", "h", "<p>same</p>")]
    out = {r["doc_id"]: r for r in
           remove_boilerplate(_corpus(spark, rows)).collect()}
    assert set(out) == {"d0", "d1"}
    for r in out.values():
        assert r["main_text"] == ""
        assert r["n_blocks_kept"] == 0 and r["n_blocks_dropped"] == 1


def test_reassembly_preserves_document_order(spark):
    rows = [
        ("d0", "h", "<p>BP</p><p>one</p><p>two</p><p>three</p>"),
        ("d1", "h", "<p>BP</p><p>x</p>"),
    ]
    out = {r["doc_id"]: r for r in
           remove_boilerplate(_corpus(spark, rows)).collect()}
    assert out["d0"]["main_text"] == "one\ntwo\nthree"


def test_duplicate_block_within_one_doc_counts_once(spark):
    # "twice" repeats inside d0 but appears in only 1 of 3 docs ->
    # countDistinct(doc) = 1 -> kept (both copies)
    rows = [
        ("d0", "h", "<p>BP</p><p>twice</p><p>twice</p>"),
        ("d1", "h", "<p>BP</p><p>u1</p>"),
        ("d2", "h", "<p>BP</p><p>u2</p>"),
    ]
    out = {r["doc_id"]: r for r in
           remove_boilerplate(_corpus(spark, rows)).collect()}
    assert out["d0"]["main_text"] == "twice\ntwice"


def test_hosts_are_independent(spark):
    # the same text is boilerplate on A (2/2) but unique on B (1/2)
    rows = [
        ("a0", "A", "<p>SHARED</p><p>a zero</p>"),
        ("a1", "A", "<p>SHARED</p><p>a one</p>"),
        ("b0", "B", "<p>SHARED</p><p>b zero</p>"),
        ("b1", "B", "<p>other</p><p>b one</p>"),
    ]
    out = {r["doc_id"]: r for r in
           remove_boilerplate(_corpus(spark, rows)).collect()}
    assert out["a0"]["main_text"] == "a zero"
    assert out["b0"]["main_text"] == "SHARED\nb zero"


def test_block_frame_shape_and_fingerprint(spark):
    rows = [("d", "h", "<p>a b</p>")]
    r = block_frame(_corpus(spark, rows)).collect()[0]
    assert (r["doc_id"], r["host"], r["pos"], r["text"]) == ("d", "h", 0, "a b")
    import hashlib
    assert r["fp"] == hashlib.md5(b"a b").hexdigest()


def test_global_mode_via_constant_host(spark):
    """Cross-host (CCNet-style) frequency dedup is the same pipeline
    with a constant host column."""
    rows = [
        ("a0", "A", "<p>EVERYWHERE</p><p>a zero</p>"),
        ("b0", "B", "<p>EVERYWHERE</p><p>b zero</p>"),
        ("c0", "C", "<p>EVERYWHERE</p><p>c zero</p>"),
    ]
    df = _corpus(spark, rows).withColumn("host", F.lit(""))
    out = {r["doc_id"]: r for r in remove_boilerplate(df).collect()}
    # per-host mode would keep EVERYWHERE (1/1 per host but min_docs=2
    # fails); global mode sees 3/3 docs and drops it
    assert out["a0"]["main_text"] == "a zero"
    assert out["b0"]["main_text"] == "b zero"


def test_doc_with_no_candidate_blocks_absent(spark):
    # documented: nothing to reassemble -> absent from output
    rows = [("d0", "h", "<div>bare text not in a block element</div>"),
            ("d1", "h", "<p>x</p>"), ("d2", "h", "<p>y</p>")]
    out = remove_boilerplate(_corpus(spark, rows)).collect()
    assert sorted(r["doc_id"] for r in out) == ["d1", "d2"]


def test_language_mix_profile_and_tiebreak(spark):
    """Per-block language segmentation over the shared block walk:
    dominant language, distinct count, and the deterministic
    lexicographic tie-break."""
    from html_parser_spark.operators.textstats import language_mix

    rows = [
        ("mixed", "h", "<p>the cat and the dog is in it</p>"
                       "<p>der hund und die katze ist mit</p>"
                       "<p>the of and to in is</p>"),
        ("tie", "h", "<p>the and of for</p><p>der und ein mit</p>"),
        ("unknown", "h", "<p>ni hao ma shi</p>"),
    ]
    out = {r["doc_id"]: r for r in
           language_mix(_corpus(spark, rows)).collect()}
    m = out["mixed"]
    assert (m["n_blocks"], m["n_langs"], m["lang_dominant"],
            m["n_dominant"]) == (3, 2, "en", 2)
    t = out["tie"]
    # 1-1 tie between en and de -> lexicographically smallest wins
    assert (t["lang_dominant"], t["n_dominant"]) == ("de", 1)
    u = out["unknown"]
    assert (u["n_langs"], u["lang_dominant"]) == (1, "und")


def test_kernel_runs_once(spark):
    """The (host, fp) document frequency comes from the one block
    frame: one ``ArrowEvalPython`` node, so one parse per document."""
    rows = [("a0", "A", "<p>X</p>"), ("a1", "A", "<p>X</p>")]
    plan = remove_boilerplate(_corpus(spark, rows))._jdf.queryExecution()
    assert plan.executedPlan().toString().count("ArrowEvalPython") == 1


def test_null_doc_ids_count_for_nothing(spark):
    # host_docs = 3 (a0, a1, a2).  "X" is on one identified doc and two
    # null-id rows: df_docs = 1 < min_docs, so it is kept everywhere
    rows = [
        ("a0", "A", "<p>X</p><p>u0</p>"),
        (None, "A", "<p>X</p><p>n1</p>"),
        (None, "A", "<p>X</p><p>n2</p>"),
        ("a1", "A", "<p>u1</p>"),
        ("a2", "A", "<p>u2</p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, host string, html string")
    out = {r["doc_id"]: r for r in remove_boilerplate(df).collect()}
    assert out["a0"]["main_text"] == "X\nu0"
    assert out[None]["n_blocks_dropped"] == 0
