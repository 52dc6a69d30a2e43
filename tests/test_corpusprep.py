"""Holdout-split determinism and sequence-packing arithmetic."""

import random

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.corpusprep import (
    pack_sequences, split_assign, with_packing,
)
from support import split_counts


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSplitAssign:
    def test_growth_never_reassigns(self, spark):
        """The hash-split contract: adding documents must not move
        any existing document to a different split."""
        small = _docs(spark, [(i, "x") for i in range(100)])
        big = _docs(spark, [(i, "x") for i in range(300)])
        a = {r["doc_id"]: r["split"]
             for r in split_assign(small).collect()}
        b = {r["doc_id"]: r["split"]
             for r in split_assign(big).collect()}
        assert all(b[k] == v for k, v in a.items())

    def test_fractions_roughly_hold(self, spark):
        d = _docs(spark, [(i, "x") for i in range(2000)])
        counts = {r["split"]: r["n"] for r in split_assign(d)
                  .groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert 0.85 < counts["train"] / 2000 < 0.95
        assert 0.02 < counts["val"] / 2000 < 0.08
        assert 0.02 < counts["test"] / 2000 < 0.08

    def test_custom_splits_and_bad_fractions(self, spark):
        d = _docs(spark, [(i, "x") for i in range(50)])
        two = split_assign(d, splits=(("a", 0.5), ("b", 0.5)))
        assert set(r["split"] for r in two.collect()) <= {"a", "b"}
        with pytest.raises(ValueError, match="sum to"):
            split_assign(d, splits=(("a", 0.5), ("b", 0.4)))
        # sums to 1, but "b" could never receive a document
        with pytest.raises(ValueError, match=r"each be in \[0, 1\]"):
            split_assign(d, splits=(("a", 1.5), ("b", -0.5)))
        with pytest.raises(ValueError, match=r"each be in \[0, 1\]"):
            split_assign(d, splits=(("train", 0.95), ("val", 0.1),
                                    ("test", -0.05)))

    def test_no_exchange_in_plan(self, spark):
        d = _docs(spark, [(1, "x")])
        plan = split_assign(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_split_counts_tokens(self, spark):
        d = _docs(spark, [(1, "a b c"), (2, "d e")])
        total = split_counts(d).agg(
            F.sum("n_docs"), F.sum("n_tokens")).collect()[0]
        assert (total[0], total[1]) == (2, 5)


class TestPackSequences:
    def test_stream_arithmetic(self, spark):
        # force one bucket so offsets are a single stream in id order
        d = _docs(spark, [
            (1, " ".join(["w"] * 10)),
            (2, " ".join(["w"] * 10)),
            (3, " ".join(["w"] * 10)),
        ])
        out = {r["doc_id"]: r.asDict() for r in pack_sequences(
            d, budget=16, n_buckets=1).collect()}
        assert [out[i]["start_offset"] for i in (1, 2, 3)] == [0, 10, 20]
        assert [out[i]["seq_id"] for i in (1, 2, 3)] == [0, 0, 1]
        # doc 2 spans tokens 10..19: straddles the cut at 16
        assert [out[i]["crosses_cut"] for i in (1, 2, 3)] == [0, 1, 0]

    def test_exact_boundary_does_not_cross(self, spark):
        d = _docs(spark, [(1, " ".join(["w"] * 16)), (2, "w w")])
        out = {r["doc_id"]: r.asDict() for r in pack_sequences(
            d, budget=16, n_buckets=1).collect()}
        assert out[1]["crosses_cut"] == 0      # ends exactly at the cut
        assert out[2]["seq_id"] == 1

    def test_buckets_are_independent_streams(self, spark):
        d = _docs(spark, [(i, "w w w") for i in range(64)])
        out = pack_sequences(d, budget=8, n_buckets=4).collect()
        per_bucket = {}
        for r in out:
            per_bucket.setdefault(r["bucket"], []).append(r)
        assert len(per_bucket) == 4
        for rows in per_bucket.values():
            rows.sort(key=lambda r: r["doc_id"])
            assert rows[0]["start_offset"] == 0
            for a, b in zip(rows, rows[1:]):
                assert b["start_offset"] == a["start_offset"] + a["n_tokens"]

    def test_single_exchange_plan(self, spark):
        d = _docs(spark, [(1, "x")])
        plan = pack_sequences(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1


class TestWithPacking:
    COLS = ["bucket", "doc_id", "n_tokens", "start_offset", "seq_id",
            "crosses_cut"]

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rng = random.Random(7)
        rows = [(f"d{i:04d}", rng.choice(["train", "val", "test"]),
                 " ".join(["w"] * rng.randrange(0, 40)))
                for i in range(400)]
        return spark.createDataFrame(rows, "doc_id string, split string, text string")

    def test_split_streams_equal_per_split_plans(self, spark, docs):
        """One window over (split, bucket) equals packing each split on
        its own, unioned and joined back on the id."""
        plans = None
        for name in ("train", "val", "test"):
            one = pack_sequences(
                docs.where(F.col("split") == name).select("doc_id", "text"),
                budget=32, n_buckets=4)
            plans = one if plans is None else plans.unionByName(one)
        cols = ["split", "text"] + self.COLS
        old = docs.join(plans, "doc_id").select(*cols).collect()
        new = with_packing(docs, ("split",), budget=32, n_buckets=4) \
            .select(*cols).collect()
        assert len(new) == 400
        assert {r["split"] for r in new} == {"train", "val", "test"}
        assert len({(r["split"], r["bucket"]) for r in new}) == 12
        assert sorted(map(tuple, new)) == sorted(map(tuple, old))

    def test_no_extra_partition_equals_pack_sequences(self, spark, docs):
        new = with_packing(docs, budget=32, n_buckets=4)
        assert new.columns == docs.columns + [
            c for c in self.COLS if c != "doc_id"]
        assert (sorted(map(tuple, new.select(*self.COLS).collect()))
                == sorted(map(tuple, pack_sequences(
                    docs, budget=32, n_buckets=4).collect())))
