"""BM25 lexical retrieval and sliding-window chunking."""

import math

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.corpusprep import chunk_documents
from html_parser_spark.operators.lexical import bm25_scores, bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestBm25:
    def test_hand_computed(self, spark):
        d = _docs(spark, [(1, "a b a"), (2, "b c"), (3, "c c c")])
        rows = {r["id"]: r["score"]
                for r in bm25_scores(d, ["a"]).collect()}
        # df(a)=1, N=3, avgdl=8/3, tf=2, dl=3, k1=1.2, b=0.75
        idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
        denom = 2 + 1.2 * (1 - 0.75 + 0.75 * 3 / (8 / 3))
        assert set(rows) == {1}          # non-matching docs absent
        assert abs(rows[1] - idf * 2 * 2.2 / denom) < 1e-9

    def test_multi_term_sum_and_rarity(self, spark):
        """A term appearing in fewer documents carries a higher idf:
        the doc holding the rare term outranks the doc holding the
        common one at equal tf/dl."""
        d = _docs(spark, [(1, "rare x"), (2, "common x"),
                          (3, "common y"), (4, "common z")])
        rows = {r["id"]: r["score"]
                for r in bm25_scores(d, ["rare", "common"]).collect()}
        assert rows[1] > rows[2] > 0
        # multi-term doc sums both contributions
        d2 = _docs(spark, [(1, "p q"), (2, "p p"), (3, "z z")])
        r2 = {r["id"]: r["score"]
              for r in bm25_scores(d2, ["p", "q"]).collect()}
        assert r2[1] > r2[2]             # two distinct terms beat tf=2 of one

    def test_topk_deterministic_ties(self, spark):
        d = _docs(spark, [(i, "t filler") for i in range(10)])
        top = bm25_topk(d, ["t"], k=4).collect()
        assert [r["id"] for r in top] == [0, 1, 2, 3]

    def test_validation_and_plan(self, spark):
        d = _docs(spark, [(1, "x")])
        with pytest.raises(ValueError, match="non-empty"):
            bm25_scores(d, [])
        p = _plan(bm25_topk(d, ["x"], k=3))
        assert "TakeOrderedAndProject" in p
        assert "SortMergeJoin" not in p

    def test_plan_build_round_trips(self, spark, sf_dir):
        """The scoring formula, aggregates and joins reach the JVM as SQL
        text: building the gated top-k plan takes ~140 py4j commands
        (~620 when idf and the weight were Column arithmetic)."""
        from support import jvm_round_trips

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        with jvm_round_trips() as n:
            bm25_topk(d, ["hash", "merge", "customer"], k=20)
        assert 0 < n[0] <= 250


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_null_text_counts_no_tokens(spark, ansi):
    """A NULL text has NULL token counts under both ANSI settings
    (``size`` of NULL is -1 with ANSI off): one chunk with NULL lengths,
    and no share in BM25's average document length."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ansi)
    try:
        d = _docs(spark, [(1, "x y"), (2, "x y z w"), (3, None)])
        chunks = sorted(map(tuple, chunk_documents(d, chunk=4, overlap=1).collect()))
        scores = {r["id"]: r["score"] for r in bm25_scores(d, ["x"]).collect()}
    finally:
        spark.conf.set(key, old)
    assert chunks == [(1, 2, 0, 2, "x y"), (2, 4, 0, 4, "x y z w"), (3, None, 0, None, None)]
    # N=3 docs, df(x)=2, avgdl=(2+4)/2
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    for i, dl in ((1, 2), (2, 4)):
        assert scores[i] == pytest.approx(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl / 3)), abs=1e-12)


class TestChunkDocuments:
    def test_exact_windows(self, spark):
        text = " ".join(f"t{i}" for i in range(10))
        d = _docs(spark, [(1, text)])
        rows = sorted(chunk_documents(d, chunk=4, overlap=1).collect(),
                      key=lambda r: r["chunk_idx"])
        # step 3, nc = ceil((10-1)/3) = 3: [0:4], [3:7], [6:10]
        assert [r["chunk_text"] for r in rows] == [
            "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"]
        assert [r["chunk_len"] for r in rows] == [4, 4, 4]
        assert all(r["n_tokens"] == 10 for r in rows)

    def test_short_final_window_kept(self, spark):
        text = " ".join(f"t{i}" for i in range(11))
        d = _docs(spark, [(1, text)])
        rows = sorted(chunk_documents(d, chunk=4, overlap=1).collect(),
                      key=lambda r: r["chunk_idx"])
        assert len(rows) == 4
        assert rows[-1]["chunk_text"] == "t9 t10"
        assert rows[-1]["chunk_len"] == 2

    def test_small_and_empty_docs(self, spark):
        d = _docs(spark, [(1, "a b"), (2, "")])
        rows = chunk_documents(d, chunk=8, overlap=2).collect()
        by_id = {r["doc_id"]: r for r in rows}
        assert len(rows) == 2            # one chunk each
        assert by_id[1]["chunk_text"] == "a b"
        assert by_id[2]["chunk_text"] == ""

    def test_full_coverage_property(self, spark):
        """Every token of every document appears in at least one
        chunk at its original position."""
        texts = [(i, " ".join(f"w{i}_{j}" for j in range(1 + 7 * i)))
                 for i in range(1, 6)]
        d = _docs(spark, texts)
        rows = chunk_documents(d, chunk=16, overlap=4).collect()
        seen = {}
        for r in rows:
            toks = r["chunk_text"].split(" ")
            start = r["chunk_idx"] * 12
            for off, t in enumerate(toks):
                seen[(r["doc_id"], start + off)] = t
        for i, text in texts:
            for j, t in enumerate(text.split(" ")):
                assert seen[(i, j)] == t

    def test_validation_and_plan(self, spark):
        d = _docs(spark, [(1, "x")])
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(d, chunk=4, overlap=4)
        assert "Exchange" not in _plan(chunk_documents(d))


class TestRrfFuse:
    def _ranked(self, spark, rows, score_col):
        return spark.createDataFrame(rows, f"id long, {score_col} double")

    def test_hand_computed_fusion(self, spark):
        from html_parser_spark.operators.lexical import rrf_fuse

        a = self._ranked(spark, [(1, 0.9), (2, 0.8), (3, 0.7)], "score")
        b = self._ranked(spark, [(2, 0.99), (4, 0.5)], "cosine")
        rows = {r["id"]: r for r in
                rrf_fuse(a, b, topn=10).collect()}
        # doc 2: rank 2 lexical + rank 1 semantic
        assert abs(rows[2]["rrf"] - (1 / 62 + 1 / 61)) < 1e-12
        # one-sided hits: contribution only from the list they appear in
        assert abs(rows[1]["rrf"] - 1 / 61) < 1e-12
        assert abs(rows[4]["rrf"] - 1 / 62) < 1e-12
        assert rows[1]["rank_b"] is None and rows[4]["rank_a"] is None
        # both-lists doc outranks every one-sided doc
        assert rows[2]["rrf"] > rows[1]["rrf"] > rows[3]["rrf"]

    def test_rank_ties_broken_by_id(self, spark):
        from html_parser_spark.operators.lexical import rrf_fuse

        a = self._ranked(spark, [(5, 0.5), (3, 0.5), (4, 0.5)], "score")
        b = self._ranked(spark, [], "cosine").where(F.lit(False))
        rows = rrf_fuse(a, b, topn=2).collect()
        assert [r["id"] for r in rows] == [3, 4]
        assert [r["rank_a"] for r in rows] == [1, 2]
