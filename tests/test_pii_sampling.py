"""PII scrub, deterministic sampling, and incremental dedup.

Covers the three round-4 training-data additions:
* operators/pii.py — counts measured on the original text, fixed
  redaction order, map-only plan.
* operators/sampling.py — hash-rate and quota sampling: deterministic,
  growth-invariant, per-stratum rates, plan shape.
* operators/dedup.incremental_new_docs — batch-vs-history anti-join
  with internal batch dedup, control-table and broadcast paths.
"""

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.dedup import incremental_new_docs
from html_parser_spark.operators.pii import pii_scrub
from html_parser_spark.operators.sampling import (
    hash_sample, stratified_quota,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestPii:
    def test_counts_and_redaction(self, spark):
        d = _docs(spark, [
            (1, "mail a@b.com and c.d+x@e.org, ip 10.0.0.1"),
            (2, "ssn 123-45-6789 phone 415-555-0101 plain text"),
            (3, "nothing sensitive here"),
            (4, ""),
        ])
        rows = {r["doc_id"]: r for r in pii_scrub(d).collect()}
        assert (rows[1]["n_email"], rows[1]["n_ip"]) == (2, 1)
        assert rows[1]["n_pii"] == 3
        assert rows[1]["redacted"] == "mail <EMAIL> and <EMAIL>, ip <IP>"
        assert (rows[2]["n_ssn"], rows[2]["n_phone"]) == (1, 1)
        assert rows[2]["redacted"] == "ssn <SSN> phone <PHONE> plain text"
        assert rows[3]["n_pii"] == 0
        assert rows[3]["redacted"] == "nothing sensitive here"
        assert rows[4]["n_pii"] == 0

    def test_ssn_vs_phone_disambiguation(self, spark):
        """123-456-7890 is a phone (3-3-4), 123-45-6789 an SSN
        (3-2-4); the fixed redaction order keeps them distinct and
        counts are on the ORIGINAL text (masking IPs first must not
        change the email count)."""
        d = _docs(spark, [(1, "call 123-456-7890 or ssn 123-45-6789")])
        r = pii_scrub(d).collect()[0]
        assert (r["n_phone"], r["n_ssn"]) == (1, 1)
        assert r["redacted"] == "call <PHONE> or ssn <SSN>"

    def test_map_only_plan(self, spark):
        d = _docs(spark, [(1, "x")])
        assert "Exchange" not in _plan(pii_scrub(d))


class TestHashSample:
    def test_deterministic_and_growth_invariant(self, spark):
        small = _docs(spark, [(i, "x") for i in range(200)])
        big = _docs(spark, [(i, "x") for i in range(600)])
        a = {r["doc_id"] for r in hash_sample(small, rate=0.3).collect()}
        b = {r["doc_id"] for r in hash_sample(big, rate=0.3).collect()}
        # a doc's keep decision never changes as the corpus grows
        assert a == {i for i in b if i < 200}

    def test_rate_roughly_holds(self, spark):
        d = _docs(spark, [(i, "x") for i in range(2000)])
        n = hash_sample(d, rate=0.25).count()
        assert 0.20 < n / 2000 < 0.30

    def test_per_stratum_rates(self, spark):
        rows = [(i, "x", "en" if i % 2 == 0 else "de")
                for i in range(400)]
        d = spark.createDataFrame(
            rows, "doc_id long, text string, lang string")
        out = hash_sample(d, rate=0.5, strata_col="lang",
                          strata_rates={"en": 1.0, "de": 0.0})
        langs = {r["lang"] for r in out.collect()}
        assert langs == {"en"}
        assert out.count() == 200

    def test_null_stratum_gets_default_rate(self, spark):
        rows = [(i, "x", None) for i in range(300)]
        d = spark.createDataFrame(
            rows, "doc_id long, text string, lang string")
        n = hash_sample(d, rate=1.0, strata_col="lang",
                        strata_rates={"en": 0.0}).count()
        assert n == 300

    def test_validation(self, spark):
        d = _docs(spark, [(1, "x")])
        with pytest.raises(ValueError, match="outside"):
            hash_sample(d, rate=1.5)
        with pytest.raises(ValueError, match="strata_col"):
            hash_sample(d, strata_rates={"en": 0.5})

    def test_empty_strata_rates_uses_default(self, spark):
        """A mixture table with no overrides (empty dict) must fall
        back to the default rate, not crash."""
        d = _docs(spark, [(i, "x") for i in range(100)])
        a = {r["doc_id"] for r in hash_sample(d, rate=0.3).collect()}
        b = {r["doc_id"] for r in hash_sample(
            d, rate=0.3, strata_col="text", strata_rates={}).collect()}
        assert a == b

    def test_map_only_plan(self, spark):
        d = _docs(spark, [(1, "x")])
        assert "Exchange" not in _plan(hash_sample(d, rate=0.5))


class TestStratifiedQuota:
    def _langs(self, spark, sizes):
        rows = []
        i = 0
        for lang, n in sizes.items():
            for _ in range(n):
                rows.append((i, "x", lang))
                i += 1
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string")

    def test_exact_quota_per_stratum(self, spark):
        d = self._langs(spark, {"en": 120, "de": 40, "fr": 5})
        out = stratified_quota(d, strata_col="lang", n=25)
        counts = {r["lang"]: r["n"] for r in out.groupBy("lang")
                  .agg(F.count("*").alias("n")).collect()}
        # min(n, stratum size) rows each; small strata kept whole
        assert counts == {"en": 25, "de": 25, "fr": 5}
        ranks = [r["sample_rank"] for r in out
                 .where(F.col("lang") == "en").collect()]
        assert sorted(ranks) == list(range(1, 26))

    def test_deterministic(self, spark):
        d = self._langs(spark, {"en": 100})
        a = sorted(r["doc_id"] for r in
                   stratified_quota(d, strata_col="lang", n=10).collect())
        b = sorted(r["doc_id"] for r in
                   stratified_quota(d, strata_col="lang", n=10).collect())
        assert a == b

    def test_rank_filter_pushdown(self, spark):
        """The rank<=n filter must reach the window operator as a
        group limit (partial top-n BEFORE the exchange) so hot strata
        don't ship their full volume."""
        d = self._langs(spark, {"en": 50})
        assert "WindowGroupLimit" in _plan(
            stratified_quota(d, strata_col="lang", n=5))

    def test_validation(self, spark):
        d = self._langs(spark, {"en": 3})
        with pytest.raises(ValueError, match="positive"):
            stratified_quota(d, strata_col="lang", n=0)


class TestIncrementalDedup:
    def test_new_docs_survive_history_and_internal_dups(self, spark):
        hist = _docs(spark, [(1, "aa"), (2, "bb")])
        batch = _docs(spark, [
            (10, "aa"),            # in history -> dropped
            (11, "cc"), (12, "cc"),  # internal dup -> lowest id wins
            (13, "dd"),
        ])
        out = {r["doc_id"] for r in
               incremental_new_docs(batch, hist).collect()}
        assert out == {11, 13}

    def test_control_table_path(self, spark):
        """History passed as a precomputed one-column hash set skips
        re-hashing and yields the same survivors."""
        hist_docs = _docs(spark, [(1, "aa")])
        hashes = hist_docs.select(
            F.md5(F.col("text")).alias("content_hash"))
        batch = _docs(spark, [(10, "aa"), (11, "bb")])
        out = {r["doc_id"] for r in
               incremental_new_docs(batch, hashes).collect()}
        assert out == {11}

    def test_empty_history(self, spark):
        hist = _docs(spark, []).where(F.lit(False))
        batch = _docs(spark, [(10, "aa"), (11, "aa")])
        out = {r["doc_id"] for r in
               incremental_new_docs(batch, hist).collect()}
        assert out == {10}


class TestUnigramNll:
    """doc_neg_logprob — the CCNet-style unigram quality scorer."""

    def test_hand_computed_self_model(self, spark):
        import math

        d = _docs(spark, [(1, "a a b"), (2, "b c")])
        # counts: a:2 b:2 c:1 -> N=5 V=3, add-1 denom = 8
        rows = {r["doc_id"]: r["nll"]
                for r in __import__("html_parser_spark.operators.textstats",
                                    fromlist=["doc_neg_logprob"])
                .doc_neg_logprob(d).collect()}
        exp1 = -math.log(3 / 8)                      # three 'a'/'b' tokens
        exp2 = (-math.log(3 / 8) - math.log(2 / 8)) / 2
        assert abs(rows[1] - exp1) < 1e-9
        assert abs(rows[2] - exp2) < 1e-9
        # rare-token doc scores strictly higher (more surprising)
        assert rows[2] > rows[1]

    def test_oov_gets_smoothed_floor(self, spark):
        import math

        from html_parser_spark.operators.textstats import (
            doc_neg_logprob, unigram_counts,
        )

        ref = _docs(spark, [(1, "a a b")])          # model corpus
        model = unigram_counts(ref)                  # a:2 b:1, N=3 V=2
        target = _docs(spark, [(9, "zzz")])          # fully OOV
        r = doc_neg_logprob(target, model=model).collect()[0]
        assert abs(r["nll"] - (-math.log(1 / 5))) < 1e-9

    def test_empty_doc_excluded(self, spark):
        from html_parser_spark.operators.textstats import doc_neg_logprob

        d = _docs(spark, [(1, "a"), (2, "")])
        ids = {r["doc_id"] for r in doc_neg_logprob(d).collect()}
        assert ids == {1}


class TestQuantileFloor:
    """stratum_quantiles / percentile_floor_filter — curate.py."""

    def _d(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, lang string, v long")

    def test_hand_computed_quantiles(self, spark):
        from html_parser_spark.operators.curate import stratum_quantiles

        d = self._d(spark, [(i, "en", v) for i, v in
                            enumerate([1, 2, 3, 4, 5])]
                    + [(9, "de", 10), (10, "de", 20)])
        rows = {r["lang"]: r for r in
                stratum_quantiles(d, "v", "lang", (0.25, 0.5)).collect()}
        # en: sorted [1..5] -> p25 = 2.0, p50 = 3.0 (linear interp)
        assert rows["en"]["q_0_25"] == 2.0
        assert rows["en"]["q_0_5"] == 3.0
        # de: two values -> p25 = 12.5, p50 = 15.0
        assert rows["de"]["q_0_25"] == 12.5
        assert rows["de"]["q_0_5"] == 15.0

    def test_floor_filter_keeps_per_stratum(self, spark):
        from html_parser_spark.operators.curate import (
            percentile_floor_filter,
        )

        d = self._d(spark, [(i, "en", i) for i in range(1, 9)]
                    + [(20 + i, "de", 100 + i) for i in range(4)])
        out = percentile_floor_filter(d, "v", "lang", 0.5)
        by_lang = {}
        for r in out.collect():
            by_lang.setdefault(r["lang"], []).append(r["v"])
            assert r["v"] >= r["q_floor"]
        # en median of 1..8 = 4.5 -> keeps 5..8; de median 101.5 -> 102,103
        assert sorted(by_lang["en"]) == [5, 6, 7, 8]
        assert sorted(by_lang["de"]) == [102, 103]

    def test_threshold_join_is_broadcast(self, spark):
        from html_parser_spark.operators.curate import (
            percentile_floor_filter,
        )

        d = self._d(spark, [(1, "en", 5)])
        p = _plan(percentile_floor_filter(d, "v", "lang", 0.25))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p


class TestBigramNll:
    """doc_bigram_nll — the order-sensitive LM scorer."""

    def test_hand_computed_self_model(self, spark):
        import math

        from html_parser_spark.operators.textstats import doc_bigram_nll

        d = _docs(spark, [(1, "a b a b"), (2, "b a")])
        # pairs: d1 -> (a,b) (b,a) (a,b); d2 -> (b,a)
        # model: (a,b):2 (b,a):2; ctx: a->2 b->2; V = |{a,b}| = 2
        p = (2 + 1) / (2 + 1 * 2)                    # 3/4 for every pair
        exp = -math.log(p)
        rows = {r["doc_id"]: r["nll2"]
                for r in doc_bigram_nll(d).collect()}
        assert abs(rows[1] - exp) < 1e-9
        assert abs(rows[2] - exp) < 1e-9

    def test_short_docs_produce_no_row(self, spark):
        from html_parser_spark.operators.textstats import doc_bigram_nll

        d = _docs(spark, [(1, "solo"), (2, ""), (3, "a b")])
        assert {r["doc_id"] for r in doc_bigram_nll(d).collect()} == {3}

    def test_order_sensitivity_unigram_blindness(self, spark):
        """Two docs with IDENTICAL token multisets: the one whose
        transitions match the corpus scores lower than the shuffled
        one — exactly the signal the unigram model cannot see."""
        from html_parser_spark.operators.textstats import (
            doc_bigram_nll, doc_neg_logprob,
        )

        corpus = [(i, "the cat sat on the mat") for i in range(10)]
        corpus += [(100, "the cat sat on the mat"),
                   (101, "mat the on sat cat the")]
        d = _docs(spark, corpus)
        uni = {r["doc_id"]: r["nll"] for r in doc_neg_logprob(d).collect()}
        big = {r["doc_id"]: r["nll2"] for r in doc_bigram_nll(d).collect()}
        assert abs(uni[100] - uni[101]) < 1e-9       # unigram: blind
        assert big[101] > big[100] + 0.5             # bigram: caught

    def test_cross_corpus_unseen_pairs_floor(self, spark):
        import math

        from html_parser_spark.operators.textstats import (
            bigram_counts, doc_bigram_nll,
        )

        ref = _docs(spark, [(1, "a b a b")])
        model = bigram_counts(ref)                   # (a,b):2 (b,a):1; V=2
        target = _docs(spark, [(9, "z z")])          # unseen pair + context
        r = doc_bigram_nll(target, model=model).collect()[0]
        # ctx(z)=0 -> denom = 0 + 1*2; c=0 -> num = 1
        assert abs(r["nll2"] - (-math.log(1 / 2))) < 1e-9
