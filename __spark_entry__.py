"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship: boilerplate-strip extraction over the
                    synthetic transcript table built from sf0.001
                    ``documents``.
``queries()``     — every gated query, one or more per operator family
                    (SURVEY.md §2 + training-data ops), least recently
                    driver-verified first (``sampling_order``).
``oracle_sql()``  — each query's DuckDB twin computing the *same*
                    result.  For the HTML kernel operators the input
                    pages are built by deterministic string
                    concatenation, so the expected parse/selector/
                    extraction results are analytic expressions of the
                    raw ``documents`` columns — a genuine independent
                    oracle (DuckDB never parses HTML).

Each query is a ``q_<name>`` function registered with
``@gated(oracle)``, its DuckDB twin written directly above it, so every
query has exactly one oracle by construction and both dicts derive
from that one registry.  Column names/aliases match pairwise; floats
are rounded identically on both sides; monetary sums go through
DECIMAL so engine-side summation order cannot perturb low bits.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from html_parser_spark.operators import html_ops
from html_parser_spark.operators.dedup import (
    lsh_candidate_pairs, minhash_signatures, ngram_jaccard, simhash64,
)
from html_parser_spark.operators.pii import PII_PATTERNS
from html_parser_spark.operators.textstats import STOPWORDS, fingerprint, lang_id
from html_parser_spark.operators.similarity import cosine_topk
from html_parser_spark.sources.transcripts import (
    MAIN_TEXT_START, PAGE_PREFIX, PAGE_SUFFIX, page_html,
    transcripts_from_documents,
)

N_CONVS = 50
SIMHASH_BITS = 60

Query = Callable[[SparkSession, str], DataFrame]
_GATED: dict[str, tuple[Query, str]] = {}


def gated(oracle: str) -> Callable[[Query], Query]:
    """Register ``q_<name>`` as gated query ``<name>`` whose result must
    equal the DuckDB ``oracle`` SQL over the same parquet."""
    def register(fn: Query) -> Query:
        name = fn.__name__.removeprefix("q_")
        if name == fn.__name__:
            raise ValueError(f"gated query {fn.__name__!r} lacks the q_ prefix")
        if name in _GATED:
            raise ValueError(f"gated query {name!r} is already registered")
        _GATED[name] = (fn, oracle)
        return fn
    return register


# ---------------------------------------------------------------------------
# deterministic HTML builders (Spark side) — the oracle never sees HTML,
# it computes the expected answers analytically from `documents`.
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")

# O(n²) pair generation appears in exactly two queries below
# (q_ngram_jaccard_pairs, q_simhash_hamming_pairs).  Both are
# FIXTURE-ONLY exact-verification twins of the banded scale paths
# (lsh_candidate_pairs / simhash_band_pairs) — this guard makes the
# shape impossible to lift into a production path by accident.
ALL_PAIRS_FIXTURE_CAP = 1000

def _assert_all_pairs_fixture(df: DataFrame, what: str) -> None:
    """Refuse all-pairs self-join generation beyond the fixture cap.

    The count() action here is deliberate: it costs one tiny job on a
    bounded fixture slice, and it turns a silent m² blow-up on an
    unbounded corpus into a loud error pointing at the banded path.
    """
    n = df.count()
    if n > ALL_PAIRS_FIXTURE_CAP:
        raise ValueError(
            f"{what}: all-pairs pair generation is fixture-only "
            f"({n} rows > cap {ALL_PAIRS_FIXTURE_CAP}); use the banded "
            "scale path (operators.dedup.lsh_candidate_pairs / "
            "simhash_band_pairs) for real corpora"
        )

def _word_list_html() -> F.Column:
    """<div id='r'><ul><li class='w'>word</li>…</ul></div>"""
    words = F.split(F.col("text"), " ")
    lis = F.array_join(F.transform(words, lambda w: F.concat(F.lit("<li class='w'>"), w, F.lit("</li>"))), "")
    return F.concat(F.lit("<div id='r'><ul>"), lis, F.lit("</ul></div>"))

ENTITY_SUFFIX_HTML = "&amp; &lt;x&gt; &quot;q&quot; &apos;a&apos; &#65;&#x42;"
ENTITY_SUFFIX_DECODED = "& <x> \"q\" 'a' AB"


# ---------------------------------------------------------------------------
# DuckDB oracle builders shared by several gated queries
# ---------------------------------------------------------------------------

_ROLE_SQL = "['user','assistant','tool'][cast((doc_id // {n}) % 3 as int) + 1]".format(n=N_CONVS)
_CONV_SQL = "concat('conv', lpad(cast(doc_id % {n} as varchar), 7, '0'))".format(n=N_CONVS)
_TURN_SQL = "cast(doc_id // {n} as int)".format(n=N_CONVS)
_STOPWORDS_EN_SQL = ", ".join(f"'{s}'" for s in STOPWORDS["en"])


def _simhash_oracle_sql(bits: int = SIMHASH_BITS, max_id: int = 200) -> str:
    terms = []
    for b in range(bits):
        terms.append(
            f"(case when sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) > 0 "
            f"then cast({1 << b} as bigint) else 0 end)"
        )
    total = " + ".join(terms)
    return f"""
        with wh as (
            select doc_id as id,
                   cast(cast(concat('0x', substr(md5(w), 1, 15)) as ubigint) as bigint) as h
            from (select doc_id, unnest(string_split(text, ' ')) as w
                  from documents where doc_id < {max_id})
        )
        select id, {total} as simhash
        from wh group by id
    """  # noqa: E501


def _bm25_oracle_sql() -> str:
    """Lucene-variant BM25 top-20 over ``documents`` for the fixed
    3-term query — floor-quantized scores rank with id tie-break so
    the selected set matches across engines."""
    return """
            with d as (select doc_id as id, text from documents),
            toks as (
                select id,
                       cast(len(string_split(text, ' ')) as double) as dl,
                       unnest(string_split(text, ' ')) as token
                from d
            ), stats as (
                select cast(count(*) as double) as n_docs,
                       avg(cast(len(string_split(text, ' ')) as double))
                           as avgdl
                from d
            ), tf as (
                select id, token, cast(count(*) as double) as tf,
                       min(dl) as dl
                from toks
                where token in ('hash', 'merge', 'customer')
                group by id, token
            ), dft as (
                select token, cast(count(*) as double) as df
                from tf group by token
            ), w as (
                select tf.id,
                       ln((s.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                         * tf.tf * 2.2
                         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
                           as w
                from tf join dft using (token), stats s
            ), sc as (
                select id, floor(sum(w) * 10000) / 10000 as score
                from w group by id
            )
            select id, score from sc
            order by score desc, id asc limit 20
    """



def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine of two double lists ``a`` and ``b``."""
    dot = f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i]))"
    norm = lambda v: f"sqrt(list_sum(list_transform({v}, x -> x*x)))"  # noqa: E731
    return f"({dot} / ({norm(a)} * {norm(b)}))"


def _shingles_sql(n: int, src: str = "text", distinct: bool = True) -> str:
    """DuckDB expression: word n-gram list with [text] fallback
    (``distinct=False`` keeps multiplicity, for frequency stats)."""
    w = f"string_split({src}, ' ')"
    joined = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    inner = (
        f"case when len({w}) - {n - 1} > 0 then "
        f"list_transform(generate_series(1, len({w}) - {n - 1}), i -> {joined}) "
        f"else [{src}] end"
    )
    return f"list_distinct({inner})" if distinct else inner


def _lsh_pairs_cte_sql(max_id: int = 500, num_hashes: int = 8, rows_per_band: int = 2) -> str:
    """Shared CTE body: MinHash signatures → banded keys → distinct
    candidate pairs (twin of minhash_signatures + lsh_candidate_pairs)."""
    seeds = ",".join(str(i) for i in range(num_hashes))
    return f"""mh as (
                select id, seed,
                       min(md5(concat(seed, ':', shingle))) as minhash
                from (
                    select doc_id as id, unnest({_shingles_sql(3)}) as shingle
                    from documents where doc_id < {max_id}
                ), (select unnest([{seeds}]) as seed)
                group by id, seed
            ), banded as (
                select id, cast(seed // {rows_per_band} as int) as band,
                       md5(string_agg(minhash, '|' order by minhash)) as band_key
                from mh group by id, band
            ), cand_pairs as (
                select distinct a.id as id_a, b.id as id_b
                from banded a
                join banded b on a.band = b.band and a.band_key = b.band_key
                             and a.id < b.id
            )"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

@gated("""
    select doc_id, 3 + 2 * len(string_split(text, ' ')) as n_nodes
    from documents
""")
def q_html_node_count(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    return df.select("doc_id", html_ops.node_count_udf()(F.col("html")).alias("n_nodes"))

@gated("""
    select doc_id, len(string_split(text, ' ')) as n_li from documents
""")
def q_html_count_li(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    return df.select("doc_id", html_ops.query_count_udf("li.w")(F.col("html")).alias("n_li"))

@gated("""
    select doc_id, (len(string_split(text, ' ')) + 1) // 2 as n_odd
    from documents
""")
def q_html_count_nth(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    return df.select(
        "doc_id",
        html_ops.query_count_udf("ul > li.w:nth-child(2n+1)")(F.col("html")).alias("n_odd"),
    )

@gated("""
    select doc_id, string_split(text, ' ')[-1] as last_word from documents
""")
def q_html_last_word(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    return df.select(
        "doc_id",
        html_ops.inner_text_udf("#r ul li:last-child")(F.col("html")).alias("last_word"),
    )

@gated("""
    select doc_id, text as main_text from documents
""")
def q_html_inner_text_main(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("html", page_html(F.col("text")))
    return df.select(
        "doc_id",
        html_ops.inner_text_udf("main#main")(F.col("html")).alias("main_text"),
    )

@gated("""
    select doc_id, lang as lang_attr, cast(n_chars as varchar) as n_attr
    from documents
""")
def q_html_attr_value(spark, sf_dir):
    html = F.concat(
        F.lit("<div id='r' data-lang='"), F.col("lang"),
        F.lit("' data-n="), F.col("n_chars").cast("string"),
        F.lit("><p>x</p></div>"),
    )
    df = _docs(spark, sf_dir).withColumn("html", html)
    return df.select(
        "doc_id",
        html_ops.attr_value_udf("div#r", "data-lang")(F.col("html")).alias("lang_attr"),
        html_ops.attr_value_udf("div#r", "data-n")(F.col("html")).alias("n_attr"),
    )

@gated(f"""
    select doc_id, text || ' ' || '{ENTITY_SUFFIX_DECODED.replace("'", "''")}' as decoded
    from documents
""")
def q_html_entity_roundtrip(spark, sf_dir):
    html = F.concat(
        F.lit("<p id='e'>"),
        F.regexp_replace(F.col("text"), " ", "&#x20;"),
        F.lit(" " + ENTITY_SUFFIX_HTML + "</p>"),
    )
    df = _docs(spark, sf_dir).withColumn("html", html)
    return df.select(
        "doc_id",
        html_ops.inner_text_udf("#e")(F.col("html")).alias("decoded"),
    )

@gated(f"""
    select doc_id, text as main_text, 1 as n_spans,
           {MAIN_TEXT_START} as span_start,
           {MAIN_TEXT_START} + strlen(text) as span_end
    from documents
""")
def q_extract_main_text(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("html", page_html(F.col("text")))
    ex = html_ops.extract_struct_udf()
    out = df.withColumn("_ex", ex(F.col("html")))
    return out.select(
        "doc_id",
        F.col("_ex.main_text").alias("main_text"),
        F.size("_ex.spans").alias("n_spans"),
        F.element_at("_ex.spans", 1)["start"].alias("span_start"),
        F.element_at("_ex.spans", 1)["end"].alias("span_end"),
    )

@gated(f"""
    select {_ROLE_SQL} as role,
           count(*) as n_turns,
           cast(sum(strlen(text)) as bigint) as n_chars_main
    from documents
    group by 1 order by 1
""")
def q_transcripts_extract_by_role(spark, sf_dir):
    from html_parser_spark.plans.pipeline import extract_turns

    out = extract_turns(transcripts_from_documents(spark, sf_dir, n_convs=N_CONVS))
    return (
        out.groupBy("role")
        .agg(
            F.count("*").alias("n_turns"),
            # final cast pins the result to int64 — DuckDB's HUGEINT sum
            # decays to float64 on the pandas/Arrow path otherwise
            F.sum(F.octet_length("main_text")).cast("long").alias("n_chars_main"),
        )
        .orderBy("role")
    )

@gated(f"""
    with per_conv as (
        select {_CONV_SQL} as conv_id,
               count(*) as n,
               count(distinct {_TURN_SQL}) as nd,
               min({_TURN_SQL}) as lo,
               max({_TURN_SQL}) as hi
        from documents group by 1
    )
    select count(*) as n_convs,
           cast(sum(case when n = nd and lo = 0 and hi = n - 1 then 1 else 0 end) as bigint) as n_convs_ok,
           cast(sum(n) as bigint) as n_turns
    from per_conv
""")
def q_transcripts_ordering(spark, sf_dir):
    from html_parser_spark.plans.pipeline import dense_turns_sql

    t = transcripts_from_documents(spark, sf_dir, n_convs=N_CONVS)
    per_conv = t.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.expr(dense_turns_sql()).alias("ok"))
    return per_conv.selectExpr(
        "count(*) AS n_convs",
        "CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_convs_ok",
        "CAST(sum(n) AS BIGINT) AS n_turns",
    )

@gated("""
    select l_returnflag, l_linestatus,
           cast(sum(cast(l_quantity as decimal(20,6))) as varchar) as sum_qty,
           cast(sum(cast(l_extendedprice as decimal(20,6))) as varchar) as sum_base_price,
           cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(20,6))) as varchar) as sum_disc_price,
           count(*) as count_order,
           round(avg(l_quantity), 4) as avg_qty
    from lineitem
    group by l_returnflag, l_linestatus
    order by l_returnflag, l_linestatus
""")
def q_tpch_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: c.cast("decimal(20,6)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # accumulate in DECIMAL (order-independent), then cast the
            # *final* value to string: Spark's decimal(30,6) and DuckDB's
            # decimal(38,6) render the same digits, while their native
            # Arrow/pandas types hash differently
            F.sum(dec(F.col("l_quantity"))).cast("string").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("string").alias("sum_base_price"),
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("string").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

@gated("""
    select r_name,
           count(*) as n_orders,
           cast(sum(cast(o_totalprice as decimal(20,6))) as varchar) as revenue
    from orders
    join customer on o_custkey = c_custkey
    join nation on c_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by r_name order by r_name
""")
def q_join_region_revenue(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(20,6)")).cast("string").alias("revenue"),
        )
        .orderBy("r_name")
    )

@gated("""
    select o_custkey, top_orderkey, top_totalprice from (
        select o_custkey, o_orderkey as top_orderkey,
               round(o_totalprice, 2) as top_totalprice,
               row_number() over (partition by o_custkey
                                  order by o_totalprice desc, o_orderkey asc) as rn
        from orders where o_custkey < 100
    ) where rn = 1
""")
def q_window_top_order(spark, sf_dir):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("top_orderkey"),
            F.round("o_totalprice", 2).alias("top_totalprice"),
        )
    )

@gated("""
    select o_orderkey, round(o_totalprice, 2) as totalprice
    from orders order by o_totalprice desc, o_orderkey asc limit 10
""")
def q_topk_orders(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )

@gated("""
    select
      (select count(*) from customer where c_custkey in (select o_custkey from orders)) as n_with_orders,
      (select count(*) from customer where c_custkey not in (select o_custkey from orders)) as n_without_orders
""")
def q_set_ops_customers(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")
    return semi.agg(F.count("*").alias("n_with_orders")).crossJoin(
        anti.agg(F.count("*").alias("n_without_orders"))
    )

@gated("""
    select (cast(floor(epoch(ts)) as bigint) // 3600) * 3600 as hour_epoch, event_type,
           count(*) as n_events,
           cast(sum(cast(value as decimal(20,6))) as varchar) as sum_value,
           count(distinct user_id) as n_users
    from events group by 1, 2
""")
def q_events_hourly(spark, sf_dir):
    """Hour buckets as epoch seconds (integer) so the comparison is
    session-timezone-independent — date_trunc renders in the session
    TZ and would shift under a non-UTC driver."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hour_epoch = (F.unix_timestamp("ts") - F.pmod(F.unix_timestamp("ts"), F.lit(3600)))
    return (
        e.groupBy(
            hour_epoch.alias("hour_epoch"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("string").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )

@gated("""
    select count(*) as n_total, count(distinct md5(text)) as n_unique
    from documents
""")
def q_dedup_exact_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )

@gated(f"""
    select id, seed,
           min(md5(concat(seed, ':', shingle))) as minhash
    from (
        select doc_id as id, unnest({_shingles_sql(3)}) as shingle
        from documents where doc_id < 200
    ), (select unnest([0,1,2,3]) as seed)
    group by id, seed
""")
def q_minhash_signatures(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return minhash_signatures(d, num_hashes=4, shingle_n=3)

@gated(_simhash_oracle_sql())
def q_simhash(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return simhash64(d, bits=SIMHASH_BITS)

@gated(f"""
    with sh as (
        select doc_id as id, {_shingles_sql(2)} as s
        from documents where doc_id < 60
    )
    select a.id as id_a, b.id as id_b,
           round(
             cast(len(list_filter(a.s, x -> list_contains(b.s, x))) as double)
             / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))),
           5) as jaccard
    from sh a join sh b on a.id < b.id
""")
def q_ngram_jaccard_pairs(spark, sf_dir):
    """FIXTURE-ONLY exact-verification twin of lsh_candidate_pairs:
    all-pairs n-gram Jaccard over a 60-doc slice.  Never call with an
    unbounded corpus — guarded by _assert_all_pairs_fixture."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 60)
    ids = d.select(F.col("doc_id").alias("id"))
    _assert_all_pairs_fixture(ids, "ngram_jaccard_pairs")
    pairs = (
        ids.alias("a").join(ids.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    out = ngram_jaccard(pairs, d, shingle_n=2)
    return out.select("id_a", "id_b", F.round("jaccard", 5).alias("jaccard"))

@gated(f"""
    select doc_id,
           len(string_split(text, ' ')) as n_tokens,
           round(cast(strlen(text) - (len(string_split(text, ' ')) - 1) as double)
                 / len(string_split(text, ' ')), 4) as avg_word_len,
           round(cast(strlen(text) - strlen(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) as double)
                 / strlen(text), 4) as punct_ratio,
           round(cast(len(list_filter(string_split(text, ' '), w -> list_contains([{_STOPWORDS_EN_SQL}], w))) as double)
                 / len(string_split(text, ' ')), 4) as stopword_ratio
    from documents
""")
def q_text_quality(spark, sf_dir):
    from html_parser_spark.operators.textstats import quality_features

    d = _docs(spark, sf_dir)
    return quality_features(d).select(
        "doc_id", "n_tokens", "avg_word_len", "punct_ratio", "stopword_ratio",
    )

@gated("""
    select doc_id, md5(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))) as fp
    from documents
""")
def q_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", fingerprint("text").alias("fp"))

@gated("""
    select e.vec_id,
           round(list_cosine_similarity(e.embedding, q.embedding), 4) as cosine
    from embeddings e,
         (select embedding from embeddings where vec_id = 0) q
    where e.vec_id <> 0
    order by cosine desc, e.vec_id asc limit 5
""")
def q_ann_cosine_topk(spark, sf_dir):
    """quantize=4 rounds BEFORE ranking — the same round-then-rank
    order as the oracle, so the top-5 set and id tie-breaks are
    engine-portable (not decided by sub-rounding float noise)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    top = cosine_topk(e.where(F.col("vec_id") != 0),
                      [float(x) for x in qvec], k=5, quantize=4)
    return top.select("vec_id", "cosine")

@gated("""
    select doc_id,
           concat('<li class=''w''>', string_split(text, ' ')[1], '</li>') as li_html
    from documents
""")
def q_html_serialize(spark, sf_dir):
    """writeHtml round-trip: first li subtree re-serialized verbatim
    (raw attrs untouched — node.zig:174-311 semantics)."""
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    return df.select(
        "doc_id",
        html_ops.serialize_html_udf("#r ul li:first-child")(F.col("html")).alias("li_html"),
    )

@gated("""
    select doc_id,
           28 + 18 * len(string_split(text, ' ')) + strlen(text) as input_len,
           3 + 2 * len(string_split(text, ' ')) as node_count
    from documents
""")
def q_html_parse_stats(spark, sf_dir):
    """ParseInstrumentationStats fields (instrumentation.zig:18-32);
    elapsed_ns is non-deterministic and excluded from the compare."""
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    st = html_ops.parse_stats_udf()(F.col("html"))
    return df.select(
        "doc_id",
        st["input_len"].alias("input_len"),
        st["node_count"].alias("node_count"),
    )

@gated("""
    select doc_id,
           2 + len(string_split(text, ' ')) as visited_elements,
           least(2 + len(string_split(text, ' ')), 8) as n_near_misses,
           'tag' as first_failure_kind
    from documents
""")
def q_html_explain_miss(spark, sf_dir):
    """explainFirstMatch diagnostics on a guaranteed-miss selector
    (matcher_debug.zig:18-70): all elements visited, near-miss capacity
    8, first failure classified as tag."""
    df = _docs(spark, sf_dir).withColumn("html", _word_list_html())
    ex = html_ops.explain_udf("em.missing")(F.col("html"))
    return df.select(
        "doc_id",
        ex["visited_elements"].alias("visited_elements"),
        ex["n_near_misses"].alias("n_near_misses"),
        ex["first_failure_kind"].alias("first_failure_kind"),
    )

@gated("""
    select doc_id,
           len(string_split(text, ' ')) as n_tokens,
           cast(ceil(strlen(text) / 4.0) as bigint) as n_subwords
    from documents
""")
def q_token_estimate(spark, sf_dir):
    from html_parser_spark.operators.textstats import subword_estimate, token_count

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        subword_estimate("text").alias("n_subwords"),
    )

@gated("""
    select doc_id, i as pos,
           ['/home','/docs','/about','/ad'][i + 1] as url,
           ['Home','Docs','About','ad'][i + 1] as anchor_text
    from documents, (select unnest([0, 1, 2, 3]) as i)
""")
def q_html_links(spark, sf_dir):
    """URL mining over the boilerplate pages: the four chrome links per
    page in document order (the main content contains none)."""
    df = _docs(spark, sf_dir).withColumn("html", page_html(F.col("text")))
    links = html_ops.links_udf()(F.col("html"))
    return df.select("doc_id", F.posexplode(links).alias("pos", "link")).select(
        "doc_id", "pos",
        F.col("link.url").alias("url"),
        F.col("link.text").alias("anchor_text"),
    )

@gated(f"""
    with f as (
        select doc_id,
               len(string_split(text, ' ')) as n_tokens,
               strlen(text) as n_chars,
               len(list_filter(string_split(text, ' '),
                   w -> list_contains([{_STOPWORDS_EN_SQL}], w))) as n_stop,
               strlen(text) - strlen(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) as n_punct
        from documents
    )
    select doc_id,
           floor((0.5 * least(n_tokens / 64.0, 1.0)
                  + 0.3 * least((cast(n_stop as double) / n_tokens) * 4, 1.0)
                  + 0.2 * (1.0 - least((cast(n_punct as double) / n_chars) * 5, 1.0)))
                 * 10000) / 10000 as q
    from f
""")
def q_quality_score(spark, sf_dir):
    """Floor-quantized to 4 decimals: engines disagree on decimal
    half-way rounding (0.49375 → .4937 vs .4938), floor on the same
    double is deterministic."""
    from html_parser_spark.operators.textstats import quality_score

    d = _docs(spark, sf_dir)
    q = quality_score("text", round_decimals=None)
    return d.select("doc_id", (F.floor(q * 10000) / 10000).alias("q"))

@gated("""
    select doc_id, dup_count from (
        select doc_id,
               count(*) over (partition by md5(text)) as dup_count,
               row_number() over (partition by md5(text)
                                  order by doc_id asc) as rn
        from documents
    ) where rn = 1
""")
def q_exact_dedup_rows(spark, sf_dir):
    """Row-level exact dedup: survivor (lowest id) per text hash with
    its duplicate count."""
    from html_parser_spark.operators.dedup import exact_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return exact_dedup(d).select("doc_id", "dup_count")

@gated(f"""
    with s as ({_simhash_oracle_sql(max_id=100)})
    select a.id as id_a, b.id as id_b,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from s a join s b on a.id < b.id
    where bit_count(xor(a.simhash, b.simhash)) <= 12
""")
def q_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup verification: doc pairs within hamming
    distance 12 of each other's 60-bit fingerprints.

    FIXTURE-ONLY exact-verification twin of simhash_banded_pairs:
    the all-pairs self-join is guarded; never call with an unbounded
    corpus — the banded equi-join is the scale path."""
    from html_parser_spark.operators.dedup import hamming64

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    _assert_all_pairs_fixture(docs, "simhash_hamming_pairs")  # 1 row/doc out
    sigs = simhash64(docs, bits=SIMHASH_BITS)
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming64(F.col("a.simhash"), F.col("b.simhash")))
        .where(F.col("hamming") <= 12)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
    )

@gated(f"""
    with s as ({_simhash_oracle_sql(max_id=150)}),
    u as (
        select id, simhash from s
        union all
        select id + 1000 as id,
               xor(simhash, (cast(1 as bigint) << (id % 60))) as simhash
        from s
        union all
        select id + 2000 as id,
               xor(xor(simhash, (cast(1 as bigint) << (id % 60))),
                   (cast(1 as bigint) << ((id + 17) % 60))) as simhash
        from s
    )
    select a.id as id_a, b.id as id_b,
           bit_count(xor(a.simhash, b.simhash)) as hamming
    from u a join u b on a.id < b.id
    where bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def q_simhash_banded_pairs(spark, sf_dir):
    """Scale path for SimHash near-dup: banded (band, chunk) equi-join,
    exact for hamming <= bands-1 by pigeonhole.  The fixture has no
    natural near-dups, so union deterministic bit-perturbed twins
    (hamming 1 and 2) — the oracle builds the identical twins and runs
    the all-pairs check the banded join must reproduce exactly."""
    from html_parser_spark.operators.dedup import simhash_band_pairs

    sigs = simhash64(_docs(spark, sf_dir).where(F.col("doc_id") < 150), bits=SIMHASH_BITS)
    m1 = F.expr("shiftleft(cast(1 as bigint), cast(id % 60 as int))")
    m2 = F.expr("shiftleft(cast(1 as bigint), cast((id + 17) % 60 as int))")
    t1 = sigs.select((F.col("id") + 1000).alias("id"), F.col("simhash").bitwiseXOR(m1).alias("simhash"))
    t2 = sigs.select(
        (F.col("id") + 2000).alias("id"),
        F.col("simhash").bitwiseXOR(m1).bitwiseXOR(m2).alias("simhash"),
    )
    allsigs = sigs.unionByName(t1).unionByName(t2)
    return simhash_band_pairs(allsigs, bands=4, bits=SIMHASH_BITS, max_hamming=3)


EMB_LSH_BANDS = 4
EMB_LSH_BAND_BITS = 4
EMB_DIM = 64  # embeddings.parquet vector length, uniform across sf dirs


def _embedding_neardup_oracle_sql(
    bands: int = EMB_LSH_BANDS, band_bits: int = EMB_LSH_BAND_BITS,
    threshold: float = 0.3, max_id: int = 200,
) -> str:
    """DuckDB twin of operators.dedup.embedding_near_dups: identical
    md5-derived hyperplane signs, banded k-bit keys, exact-cosine
    verification.  The OR-join over band keys is oracle scaffolding on
    200 rows — the Spark side is the scalable banded equi-join."""
    def proj(k: int) -> str:
        sign = (
            f"(case when cast(concat('0x', substr(md5('plane:{k}:' || (i-1)), 1, 4)) as int) % 2 = 0 "
            f"then 1.0 else -1.0 end)"
        )
        return (
            f"list_sum(list_transform(generate_series(1, len(embedding)), "
            f"i -> cast(embedding[i] as double) * {sign}))"
        )

    keys = []
    for b in range(bands):
        terms = " + ".join(
            f"(case when {proj(b * band_bits + j)} >= 0 then {1 << j} else 0 end)"
            for j in range(band_bits)
        )
        keys.append(f"({terms}) as key{b}")
    key_cols = ",\n                     ".join(keys)
    band_match = " or ".join(f"a.key{b} = b.key{b}" for b in range(bands))
    return f"""
            with e as (
              select vec_id as id,
                     list_transform(embedding, x -> cast(x as double)) as v,
                     {key_cols}
              from embeddings where vec_id < {max_id}
            ), scored as (
              select a.id as id_a, b.id as id_b,
                     list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
                     / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                        * sqrt(list_sum(list_transform(b.v, x -> x*x)))) as c
              from e a join e b on a.id < b.id and ({band_match})
            )
            select id_a, id_b, round(c, 4) as cosine from scored where c >= {threshold}
        """


@gated(_embedding_neardup_oracle_sql())
def q_embedding_neardup(spark, sf_dir):
    """Multi-band multi-bit hyperplane LSH (4 bands × 4-bit keys here so
    the random-vector fixture still yields candidates at cosine 0.3;
    production defaults are 4×8 for threshold 0.95)."""
    from html_parser_spark.operators.dedup import embedding_near_dups

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(F.col("vec_id") < 200)
    # dim passed explicitly (uniform across all driver fixtures) — the
    # operator's mode-of-sizes probe job is for schemas we don't know
    out = embedding_near_dups(e, threshold=0.3, bands=EMB_LSH_BANDS,
                              band_bits=EMB_LSH_BAND_BITS, dim=EMB_DIM)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _ivf_oracle_sql() -> str:
    """IVF top-k replica: centroids = 8 lowest ids; assignment and the
    probe of the 2 centroids nearest the query both rank by (round-9
    cosine desc, centroid index asc), as ``similarity._rank_cells``;
    exact top-5 inside probed cells with cosine rounded to 6 before
    ordering (with_cosine semantics)."""
    return f"""
    with v as (
      select vec_id as id, list_transform(embedding, x -> cast(x as double)) as vv
      from embeddings where vec_id <> 0
    ),
    c as (
      select id as cid, vv as cv, row_number() over (order by id) - 1 as ci
      from v order by id limit 8
    ),
    assign as (
      select id, cell from (
        select v.id, c.ci as cell,
               row_number() over (partition by v.id
                 order by round({_cos_sql('v.vv', 'c.cv')}, 9) desc, c.ci asc) as rn
        from v cross join c
      ) where rn = 1
    ),
    q as (
      select list_transform(embedding, x -> cast(x as double)) as qv
      from embeddings where vec_id = 0
    ),
    probe as (
      select ci from (
        select c.ci, row_number() over (order by round({_cos_sql('c.cv', 'q.qv')}, 9) desc, c.ci asc) as rn
        from c, q
      ) where rn <= 2
    ),
    scored as (
      select v.id, round({_cos_sql('v.vv', 'q.qv')}, 6) as cos6
      from v join assign using (id), q
      where assign.cell in (select ci from probe)
    )
    select id as vec_id, round(cos6, 4) as cosine
    from scored order by cos6 desc, id asc limit 5
    """


@gated(_ivf_oracle_sql())
def q_ann_ivf_topk(spark, sf_dir):
    """IVF scale path: probe 2 of 8 deterministic cells, exact top-k
    inside (partition-pruned fraction of a full scan at 10^9 vectors).
    Oracle replicates centroid assignment via rank-over-cosine with the
    same (round-9, centroid-index) tie-break; also verified in tests/
    against brute force."""
    from html_parser_spark.operators.similarity import build_ivf_index, ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    indexed, cents = build_ivf_index(e.where(F.col("vec_id") != 0), num_cells=8)
    top = ivf_topk(indexed, cents, qvec, k=5, nprobe=2)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


def _ivf_batch_oracle_sql() -> str:
    """Batched IVF replica: queries = vec_id < 10 as a table, corpus =
    vec_id >= 10, centroids = 8 lowest corpus ids; per-query probe
    ranking and per-query top-5 rank use the same (round-9 assign /
    round-6 score, index-asc) tie-breaks as ``ivf_topk_batch``."""
    return f"""
    with v as (
      select vec_id as id, list_transform(embedding, x -> cast(x as double)) as vv
      from embeddings where vec_id >= 10
    ),
    c as (
      select id as cid, vv as cv, row_number() over (order by id) - 1 as ci
      from v order by id limit 8
    ),
    assign as (
      select id, cell from (
        select v.id, c.ci as cell,
               row_number() over (partition by v.id
                 order by round({_cos_sql('v.vv', 'c.cv')}, 9) desc, c.ci asc) as rn
        from v cross join c
      ) where rn = 1
    ),
    q as (
      select vec_id as qid, list_transform(embedding, x -> cast(x as double)) as qv
      from embeddings where vec_id < 10
    ),
    probe as (
      select qid, ci from (
        select q.qid, c.ci,
               row_number() over (partition by q.qid
                 order by round({_cos_sql('c.cv', 'q.qv')}, 9) desc, c.ci asc) as rn
        from q cross join c
      ) where rn <= 2
    ),
    scored as (
      select q.qid, v.id, round({_cos_sql('v.vv', 'q.qv')}, 6) as cos6
      from v
      join assign on assign.id = v.id
      join probe p on p.ci = assign.cell
      join q on q.qid = p.qid
    )
    select qid as query_id, id as vec_id, round(cos6, 4) as cosine,
           cast(rnk as int) as rank
    from (
      select qid, id, cos6,
             row_number() over (partition by qid
               order by cos6 desc, id asc) as rnk
      from scored
    ) where rnk <= 5
    """


@gated(_ivf_batch_oracle_sql())
def q_ann_ivf_batch_topk(spark, sf_dir):
    """Batched IVF search (round-3 verdict item 2): 10 query vectors as
    a TABLE (vec_id < 10), corpus = the rest; each query probes its 2
    nearest of 8 cells (broadcast-GEMM probe UDF), the exploded
    (query, cell) side broadcasts into an equi-join on cell, and the
    per-query exact top-5 comes from a rank-limit window (Spark pushes
    it down to per-partition partial top-k).  Oracle replicates the
    centroid assignment, per-query probe ranking and per-query top-k
    rank with the same (round-9/round-6, index-asc) tie-breaks."""
    from html_parser_spark.operators.similarity import build_ivf_index, ivf_topk_batch

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    indexed, cents = build_ivf_index(e.where(F.col("vec_id") >= 10), num_cells=8)
    top = ivf_topk_batch(indexed, cents, queries, k=5, nprobe=2)
    return top.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"))


@gated(f"""
    with {_lsh_pairs_cte_sql()}
    select id_a, id_b from cand_pairs
""")
def q_lsh_candidate_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 500)
    sigs = minhash_signatures(d, num_hashes=8, shingle_n=3)
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)

@gated(f"""
    with {_lsh_pairs_cte_sql()},
    small as (
        select band, band_key
        from banded group by band, band_key having count(*) <= 2
    )
    select distinct a.id as id_a, b.id as id_b
    from banded a
    join small s on a.band = s.band and a.band_key = s.band_key
    join banded b on a.band = b.band and a.band_key = b.band_key
                 and a.id < b.id
""")
def q_lsh_capped_pairs(spark, sf_dir):
    """Round-3 hot-bucket guard on the scale path: band buckets larger
    than the cap are dropped from the self-join (bounded worst case on
    boilerplate-heavy corpora), accounted by lsh_bucket_accounting."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 500)
    sigs = minhash_signatures(d, num_hashes=8, shingle_n=3)
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2, max_bucket_size=2)

@gated(f"""
    with {_lsh_pairs_cte_sql()}
    select band, band_key as key, count(*) as n_members
    from banded group by band, band_key having count(*) > 2
""")
def q_lsh_bucket_accounting(spark, sf_dir):
    """Accounting twin of the cap: the skipped over-cap band buckets."""
    from html_parser_spark.operators.dedup import (
        lsh_banded_signatures, oversize_band_buckets,
    )

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 500)
    sigs = minhash_signatures(d, num_hashes=8, shingle_n=3)
    banded = lsh_banded_signatures(sigs, rows_per_band=2)
    return oversize_band_buckets(banded, max_bucket_size=2)

@gated(f"""
    with recursive {_lsh_pairs_cte_sql()},
    edges as (
        select id_a as s, id_b as d from cand_pairs
        union
        select id_b as s, id_a as d from cand_pairs
    ),
    reach(id, r) as (
        select s, s from edges
        union
        select e.d, reach.r from reach join edges e on e.s = reach.id
    ),
    cc as (select id, min(r) as cluster_id from reach group by id)
    select d.doc_id,
           cast(coalesce(cc.cluster_id, d.doc_id) as bigint) as cluster_id
    from (select doc_id from documents where doc_id < 500) d
    left join cc on cc.id = d.doc_id
""")
def q_dup_clusters(spark, sf_dir):
    """Duplicate clusters: MinHash → banded LSH pairs → connected
    components (min-label propagation); singletons keep their own id as
    cluster_id.  cluster_id == doc_id marks the canonical document."""
    from html_parser_spark.operators.dedup import dup_clusters

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 500)
    sigs = minhash_signatures(d, num_hashes=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    cc = dup_clusters(pairs)
    return (
        d.select("doc_id")
        .join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).cast("long").alias("cluster_id"),
        )
    )


@gated("""
    select doc_id,
           'HEADER' || chr(10) || text || chr(10) || 'FOOTER' as pdf_text,
           cast(3 as int) as n_lines,
           cast(5 as int) as n_objects,
           cast(1 as int) as n_streams
    from documents
""")
def q_pdf_extract(spark, sf_dir):
    """PDF/layout leg of the extraction pipeline: deterministic
    one-page PDFs (HEADER / doc text / FOOTER, FlateDecode-compressed
    content stream) → pure-Python PDF kernel (object scan → zlib →
    text operators → layout line assembly).  The oracle states the
    expected extraction in closed form; DuckDB never parses PDF."""
    from html_parser_spark.operators.layout import pdf_extract_udf, synth_pdf_udf

    d = _docs(spark, sf_dir)
    pdfs = synth_pdf_udf()(F.col("text"))
    ex = pdf_extract_udf()(pdfs)
    return d.withColumn("_ex", ex).select(
        "doc_id",
        F.col("_ex.text").alias("pdf_text"),
        F.col("_ex.n_lines").alias("n_lines"),
        F.col("_ex.n_objects").alias("n_objects"),
        F.col("_ex.n_streams").alias("n_streams"),
    )


NORM_SUFFIX = "  Café\tZ\x01 "  # combining acute + tab + control char

@gated("""
    select doc_id,
           trim(regexp_replace(
               regexp_replace(
                   lower(nfc_normalize(
                       text || '  Cafe' || chr(769) || chr(9) || 'Z' || chr(1) || ' ')),
                   '[\\x00-\\x1f\\x7f]', '', 'g'),
               '[ \\t\\n\\r\\f]+', ' ', 'g')) as norm_text
    from documents
""")
def q_normalize_text(spark, sf_dir):
    """Corpus text normalization: NFC (pandas UDF; DuckDB
    nfc_normalize is the oracle) → lowercase → control strip → ws
    collapse.  A non-ASCII suffix with a combining accent, a tab and a
    control byte is appended so every stage is genuinely exercised."""
    from html_parser_spark.operators.textstats import normalize_text

    d = _docs(spark, sf_dir).withColumn("text", F.concat(F.col("text"), F.lit(NORM_SUFFIX)))
    return normalize_text(d).select("doc_id", "norm_text")


@gated(f"""
    with base as (
        select doc_id as id,
               cast(len(string_split(text, chr(10))) as bigint) as n_lines,
               floor((1.0 - len(list_distinct(string_split(text, chr(10))))
                      / cast(len(string_split(text, chr(10))) as double)) * 10000)
                   / 10000 as dup_line_frac
        from documents where doc_id < 300
    ), grams as (
        select doc_id as id, unnest({_shingles_sql(2, distinct=False)}) as g
        from documents where doc_id < 300
    ), pg as (
        select id, g, count(*) as c from grams group by id, g
    ), share as (
        select id,
               floor(cast(max(c) as double) / sum(c) * 10000) / 10000
                   as top_ngram_share
        from pg group by id
    )
    select base.id, base.n_lines, base.dup_line_frac, share.top_ngram_share
    from base join share on share.id = base.id
""")
def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-line fraction + the
    share of the most frequent word bigram (with multiplicity)."""
    from html_parser_spark.operators.textstats import repetition_stats

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    return repetition_stats(d, ngram_n=2)


@gated(f"""
    with bench as (
        select array_to_string(string_split(text, ' ')[1:12], ' ') as text
        from documents where doc_id >= 400 and doc_id < 450
    ), bg as (
        select distinct unnest({_shingles_sql(8)}) as g from bench
    ), cg as (
        select doc_id as id, unnest({_shingles_sql(8)}) as g
        from documents where doc_id < 450
    ), hits as (
        select cg.id, count(distinct cg.g) as n_hits
        from cg join bg on cg.g = bg.g group by cg.id
    )
    select d.doc_id as id,
           cast(coalesce(h.n_hits, 0) as bigint) as n_hits,
           coalesce(h.n_hits, 0) >= 1 as contaminated
    from (select doc_id from documents where doc_id < 450) d
    left join hits h on h.id = d.doc_id
""")
def q_contamination_check(spark, sf_dir):
    """Train/test decontamination sweep: the 'benchmark' is the 12-word
    prefix of docs 400-449 (an eval set drawn from the corpus), so
    those docs — and any near-dups sharing an 8-gram with their
    prefixes — flag as contaminated.  Benchmark side broadcast."""
    from html_parser_spark.operators.textstats import contamination_check

    d = _docs(spark, sf_dir)
    corpus = d.where(F.col("doc_id") < 450)
    bench = (
        d.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
        .select(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 12)).alias("text"))
    )
    return contamination_check(corpus, bench, ngram_n=8, min_hits=1)


@gated(f"""
    select ngram, count(*) as doc_freq
    from (select doc_id, unnest({_shingles_sql(2)}) as ngram from documents)
    group by ngram
    order by doc_freq desc, ngram asc
    limit 20
""")
def q_top_ngrams(spark, sf_dir):
    from html_parser_spark.operators.textstats import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=20)


@gated(f"""
    with f as (
        select doc_id, lang,
               row_number() over (partition by md5(text) order by doc_id) as rn,
               len(string_split(text, ' ')) as n_tokens,
               strlen(text) as n_chars,
               len(list_filter(string_split(text, ' '),
                   w -> list_contains([{_STOPWORDS_EN_SQL}], w))) as n_stop,
               strlen(text) - strlen(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) as n_punct
        from documents
    ), scored as (
        select doc_id, lang, rn, n_tokens,
               floor((0.5 * least(n_tokens / 64.0, 1.0)
                      + 0.3 * least((cast(n_stop as double) / n_tokens) * 4, 1.0)
                      + 0.2 * (1.0 - least((cast(n_punct as double) / n_chars) * 5, 1.0)))
                     * 10000) / 10000 as q
        from f
    )
    select case when rn > 1 then 'duplicate'
                when n_tokens < 20 then 'too_short'
                when q < 0.6 then 'low_quality'
                when lang not in ('en', 'fr') then 'wrong_lang'
                else 'kept' end as reason,
           count(*) as n_docs
    from scored group by 1 order by 1
""")
def q_curate_corpus(spark, sf_dir):
    """Composed curation pipeline: exact-dup → token floor → quality
    gate (floor-quantized) → language allowlist (metadata column);
    deterministic first-reason accounting."""
    from html_parser_spark.operators.curate import curate_corpus, curation_stats

    d = _docs(spark, sf_dir)
    cur = curate_corpus(
        d, quality_threshold=0.6, langs=("en", "fr"), min_tokens=20, lang_col="lang"
    )
    return curation_stats(cur).orderBy("reason")


def _lang_id_oracle_sql() -> str:
    """Stopword-hit argmax with tie-break toward the alphabetically
    first language code (matches operators/textstats.lang_id)."""
    hits = {}
    for code in sorted(STOPWORDS):
        lst = ", ".join(f"'{s}'" for s in STOPWORDS[code])
        hits[code] = (
            f"len(list_filter(string_split(text, ' '), x -> list_contains([{lst}], x)))"
        )
    return f"""
        with h as (
            select doc_id,
                   {hits['de']} as h_de, {hits['en']} as h_en,
                   {hits['es']} as h_es, {hits['fr']} as h_fr
            from documents where doc_id < 200
        )
        select doc_id, case
            when greatest(h_de, h_en, h_es, h_fr) = 0 then 'und'
            when h_de >= h_en and h_de >= h_es and h_de >= h_fr then 'de'
            when h_en >= h_es and h_en >= h_fr then 'en'
            when h_es >= h_fr then 'es'
            else 'fr' end as lang_pred
        from h
    """


@gated(_lang_id_oracle_sql())
def q_lang_id(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return lang_id(d).select("doc_id", "lang_pred")

@gated("""
    select (cast(floor(epoch(ts)) as bigint) // 3600) * 3600 as win_epoch,
           event_type,
           count(*) as n_events,
           cast(sum(cast(value as decimal(20,6))) as varchar) as sum_value
    from events group by 1, 2
""")
def q_streaming_hourly(spark, sf_dir):
    """Structured Streaming under the driver gate: events parquet →
    readStream (2 files/trigger → multiple micro-batches) → tumbling
    1-hour windows (complete mode, memory sink, availableNow), hour
    buckets as epoch ints so the comparison is TZ-independent (same
    pattern as events_hourly)."""
    import shutil
    import tempfile
    import uuid

    from html_parser_spark.streaming.stream import read_events_stream, run_available_now

    d = tempfile.mkdtemp(prefix="stream_hourly_")
    try:
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        e.repartition(4).write.mode("overwrite").parquet(f"{d}/in")
        stream = read_events_stream(spark, f"{d}/in", max_files_per_trigger=2)
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(20,6)")).alias("sum_value"),
            )
        )
        name = "q_stream_hourly_" + uuid.uuid4().hex[:8]
        run_available_now(agg, name, f"{d}/ckpt", output_mode="complete")
        return spark.table(name).select(
            F.unix_timestamp(F.col("win.start")).alias("win_epoch"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").cast("string").alias("sum_value"),
        )
    finally:
        # the memory sink holds the result; the staged input/checkpoint
        # are no longer needed once the availableNow query terminated
        shutil.rmtree(d, ignore_errors=True)


# append mode emits exactly the windows the watermark closed:
# win_end <= max(ts) - 2h (measured eviction semantics, pinned
# by tests/test_streaming.py); the injected late duplicates are
# dropped, so the aggregate is over the original events only
@gated("""
    with agg as (
        select (cast(floor(epoch(ts)) as bigint) // 3600) * 3600 as win_epoch,
               event_type,
               count(*) as n_events,
               cast(sum(cast(value as decimal(20,6))) as varchar) as sum_value
        from events group by 1, 2
    ), wm as (
        select cast(floor(epoch(max(ts))) as bigint) - 7200 as w from events
    )
    select win_epoch, event_type, n_events, sum_value
    from agg, wm where win_epoch + 3600 <= wm.w
""")
def q_streaming_watermark_hourly(spark, sf_dir):
    """Watermarked APPEND-mode streaming (round-3 verdict item 3):
    events → readStream → 1-hour tumbling windows behind a 2-hour
    watermark → native parquet FILE sink (exactly-once manifest
    commits).  Each window is emitted exactly once when the watermark
    passes its end (measured: win_end <= max_ts_seen - delay), so
    output is O(closed windows) and state is O(open windows) — the
    100-TB shape complete mode can't reach.  A second run on the same
    checkpoint injects 48 synthetic sub-watermark probe events (one
    unique (window, type) group each — see the inline comment for why
    uniqueness makes the metric exact): all fall below the RESUMED
    watermark, are dropped, and the drop count is asserted in-query (a
    miscount fails the gate as err).  Windows as epoch ints, TZ-safe."""
    import shutil
    import tempfile

    from html_parser_spark.streaming.stream import (
        read_events_stream, rows_dropped_by_watermark, run_append_to_parquet,
        windowed_events_agg,
    )

    d = tempfile.mkdtemp(prefix="stream_wm_")
    try:
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        e.repartition(4).write.mode("overwrite").parquet(f"{d}/in")
        stream = read_events_stream(spark, f"{d}/in", max_files_per_trigger=2)
        agg = windowed_events_agg(stream, window="1 hour", watermark="2 hours")
        run_append_to_parquet(agg, f"{d}/out", f"{d}/ckpt")
        # phase 2: late data — 48 synthetic events in the EARLIEST 48
        # hours of the stream, far below the checkpointed watermark
        # (max ts - 2h over a 30-day span).  Each gets a unique
        # (window, event_type) group because numRowsDroppedByWatermark
        # counts rows reaching the state operator AFTER partial
        # aggregation (measured: 200 duplicate input rows reported as
        # 174 dropped groups) — unique groups make the accounting
        # deterministic: dropped == n_late exactly.
        n_late = 48
        base_epoch = (e.agg(F.min("ts").alias("m"))
                      .select(F.unix_timestamp("m")).collect()[0][0])
        late = spark.range(n_late).selectExpr(
            "-(id + 1) as event_id",
            f"timestamp_seconds({int(base_epoch)} + id * 3600 + 30) as ts",
            "id as user_id",
            "concat('late_probe_', cast(id as string)) as event_type",
            "cast(1.5 as double) as value",
            "'{}' as props",
        )
        late.coalesce(1).write.mode("append").parquet(f"{d}/in")
        q2 = run_append_to_parquet(agg, f"{d}/out", f"{d}/ckpt")
        n_drop = rows_dropped_by_watermark(q2)
        if n_drop != n_late:
            raise AssertionError(
                f"late-data accounting: expected {n_late} rows dropped by "
                f"the resumed watermark, progress reports {n_drop}")
        out = spark.read.parquet(f"{d}/out").select(
            F.unix_timestamp(F.col("win_start")).alias("win_epoch"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").cast("string").alias("sum_value"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@gated(f"""
    select {_CONV_SQL} as conv_id,
           cast(count(*) as bigint) as n_turns,
           cast(sum(length(text)) as bigint) as total_chars,
           cast(max({_TURN_SQL}) as int) as max_turn_idx
    from documents group by 1
""")
def q_streaming_conv_rollup(spark, sf_dir):
    """Custom stateful streaming operator under the driver gate:
    transcript parquet → readStream (1 file/trigger → state genuinely
    crosses micro-batches) → stateless kernel extraction →
    applyInPandasWithState per-conversation rollup → fault-tolerant
    foreachBatch parquet sink.  State fields are monotone, so the final
    snapshot per conversation == column-wise max over emitted rows."""
    import shutil
    import tempfile

    from html_parser_spark.plans.pipeline import extract_turns
    from html_parser_spark.streaming.stateful import (
        conversation_rollup_stream, run_rollup_to_parquet,
    )
    from html_parser_spark.streaming.stream import read_transcript_stream

    d = tempfile.mkdtemp(prefix="stream_rollup_")
    try:
        t = transcripts_from_documents(spark, sf_dir, n_convs=N_CONVS).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        )
        t.repartition(4).write.mode("overwrite").parquet(f"{d}/in")
        stream = read_transcript_stream(spark, f"{d}/in", max_files_per_trigger=1)
        ex = extract_turns(stream).select(
            "conv_id", "turn_idx", F.col("main_text").alias("text")
        )
        rolled = conversation_rollup_stream(ex)
        run_rollup_to_parquet(rolled, f"{d}/out", f"{d}/ckpt")
        final = (
            spark.read.parquet(f"{d}/out")
            .groupBy("conv_id")
            .agg(
                F.max("n_turns").cast("long").alias("n_turns"),
                F.max("total_chars").cast("long").alias("total_chars"),
                F.max("max_turn_idx").cast("int").alias("max_turn_idx"),
            )
        )
        # materialize before deleting the staged dirs: the returned
        # DataFrame must stay collectible after cleanup
        rows = final.collect()
        return spark.createDataFrame(rows, schema=final.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@gated("""
    with a as (
        select i as asset_id,
               ['image','audio','video'][cast(i % 3 as int) + 1] as kind,
               repeat(sha256(cast(i as varchar)), cast(1 + i % 7 as int)) as payload
        from (select unnest(generate_series(0, 63)) as i)
    )
    select asset_id, kind,
           strlen(payload) as n_bytes,
           md5(payload) as content_hash,
           true as undecoded
    from a
""")
def q_multimodal_features(spark, sf_dir):
    """The feature plumbing over opaque payloads: ``n_bytes`` and
    ``content_hash`` of every asset, and ``undecoded`` (no format the
    decoder knows, so NULL width/height/histogram) as a boolean — an
    all-NULL integer column would lose its type on the oracle's pandas
    path."""
    from html_parser_spark.operators.multimodal import extract_features, synth_assets

    assets = synth_assets(spark, n=64)
    return extract_features(assets).selectExpr(
        "asset_id", "kind", "n_bytes", "content_hash",
        "width IS NULL AND height IS NULL AND histogram IS NULL AS undecoded")


@gated("""
    with a as (
        select i as asset_id, (i % 5 + 4) as w, (i % 4 + 3) as h
        from (select unnest(generate_series(0, 63)) as i)
    ), b as (
        select asset_id, w, h, w * h * 3 as np from a
    ), c as (
        select asset_id, w, h, np,
               substr(repeat(md5(cast(asset_id as varchar)),
                             cast(ceil(np / 32.0) + 1 as int)), 1, np) as pix
        from b
    )
    select asset_id,
           cast(strlen(concat('P6', chr(10), cast(w as varchar), ' ',
                cast(h as varchar), chr(10), '255', chr(10), pix)) as bigint)
               as n_bytes,
           md5(concat('P6', chr(10), cast(w as varchar), ' ',
                cast(h as varchar), chr(10), '255', chr(10), pix))
               as content_hash,
           w as width, h as height,
           round(cast(len(regexp_replace(pix, '[^0-9]', '', 'g')) as double)
                 / np, 6) as digit_share
    from c
""")
def q_multimodal_real_decode(spark, sf_dir):
    """REAL stdlib image decode under the value gate: 64 synthesized P6
    PPMs whose pixel bytes are ASCII (repeated md5 hexdigest), decoded
    by the actual PPM parser.  The oracle
    reconstructs the identical payload character-for-character in SQL
    and derives width/height/hash plus the digit-bin histogram share in
    closed form."""
    from html_parser_spark.operators.multimodal import extract_features

    assets = spark.range(64).selectExpr(
        "id as asset_id",
        "'image' as kind",
        "cast(concat('P6', chr(10), cast(id % 5 + 4 as string), ' ', "
        "  cast(id % 4 + 3 as string), chr(10), '255', chr(10), "
        "  substr(repeat(md5(cast(id as string)), "
        "         cast(ceil((id % 5 + 4) * (id % 4 + 3) * 3 / 32.0) + 1 as int)), "
        "         1, cast((id % 5 + 4) * (id % 4 + 3) * 3 as int))) as binary) as payload",
        "map('src', concat('synth://', cast(id as string))) as meta",
    )
    feats = extract_features(assets)
    # bin 3 of the 16-bin histogram = ASCII '0'-'9' (0x30-0x39): the
    # digit share of the hexdigest pixels, a closed-form SQL quantity
    return feats.select(
        "asset_id", "n_bytes", "content_hash", "width", "height",
        F.round(F.element_at("histogram", 4), 6).alias("digit_share"),
    )


def _jpeg_bins_oracle_sql(md5_arg: str) -> str:
    """Closed-form JPEG histogram twin: block j of asset i decodes to
    the flat value 128 + k with k = (j-th byte of md5(``md5_arg``)) %
    64 - 32 — levels 96..159 land in 16-bin histogram bins 6..9; every
    block contributes equally (64 px), so each bin's share =
    blocks_in_bin / n_blocks."""
    return f"""
        with a as (
            select i as asset_id,
                   2 + i % 3 as bw, 1 + i % 2 as bh
            from (select unnest(generate_series(0, 63)) as i)
        ), blocks as (
            select asset_id, bw, bh,
                   128 + cast(concat('0x',
                       substr(md5({md5_arg}),
                              1 + 2 * j, 2)) as int) % 64 - 32 as level
            from a, lateral (select unnest(generate_series(0, bw * bh - 1)) as j)
        )
        select asset_id,
               cast(max(bw) * 8 as int) as width,
               cast(max(bh) * 8 as int) as height,
               round(sum(case when level // 16 = 6 then 1.0 else 0 end)
                     / count(*), 6) as share_b6,
               round(sum(case when level // 16 = 7 then 1.0 else 0 end)
                     / count(*), 6) as share_b7,
               round(sum(case when level // 16 = 8 then 1.0 else 0 end)
                     / count(*), 6) as share_b8,
               round(sum(case when level // 16 = 9 then 1.0 else 0 end)
                     / count(*), 6) as share_b9
        from blocks group by asset_id
    """


@gated(_jpeg_bins_oracle_sql("cast(asset_id as varchar)"))
def q_multimodal_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode under the value gate (round-3 verdict
    item 4): 64 synthesized DC-only grayscale JPEGs — quant table
    all-ones and DC = 8·k make block j decode to the EXACT flat value
    128 + k_j with k_j = byte j of md5(id) % 64 - 32, so the decoded
    histogram is closed-form SQL.  The pipeline runs the actual
    Huffman + dequant + IDCT decoder; the oracle
    recomputes each block's level and bins it (levels span 96..159 =
    histogram bins 6..9) without ever parsing JPEG.

    Every 4th asset is instead a MULTI-SCAN non-interleaved color file
    (SOF0 with three single-component scans, T.81 A.2.2; round-4
    verdict item 5) with neutral chroma: R = G = B = Y exactly, so the
    normalized byte histogram — and hence the oracle — is unchanged
    while the separate-scan decode path runs under the value gate."""
    import hashlib

    from html_parser_spark.operators.jpeg import (
        synth_jpeg_color_multiscan, synth_jpeg_gray)
    from html_parser_spark.operators.multimodal import ASSET_SCHEMA, extract_features

    rows = []
    for i in range(64):
        bw_, bh_ = 2 + i % 3, 1 + i % 2
        digest = hashlib.md5(str(i).encode()).hexdigest()
        levels = [int(digest[2 * j:2 * j + 2], 16) % 64 - 32
                  for j in range(bw_ * bh_)]
        synth = synth_jpeg_color_multiscan if i % 4 == 3 else synth_jpeg_gray
        rows.append((i, "image", bytearray(synth(levels, bw_, bh_)),
                     {"src": f"synth://jpeg/{i}"}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    feats = extract_features(assets)
    return feats.select(
        "asset_id", "width", "height",
        F.round(F.element_at("histogram", 7), 6).alias("share_b6"),
        F.round(F.element_at("histogram", 8), 6).alias("share_b7"),
        F.round(F.element_at("histogram", 9), 6).alias("share_b8"),
        F.round(F.element_at("histogram", 10), 6).alias("share_b9"),
    )


# identical closed-form binning to multimodal_jpeg_decode; the
# levels derive from md5('p' || id) and the payloads are SOF2
# progressive (Al=1 DC + refinement + EOB-run AC scans) — the
# decoded pixels are the same exact flat 128+k blocks
@gated(_jpeg_bins_oracle_sql("concat('p', cast(asset_id as varchar))"))
def q_multimodal_jpeg_progressive(spark, sf_dir):
    """REAL progressive-JPEG decode (SOF2, T.81 Annex G) under the
    value gate: 64 synthesized DC-only grayscale progressive JPEGs —
    quant DC=8 with DC coefficient k makes block j decode to the EXACT
    flat value 128 + k_j (k_j = byte j of md5('p'||id) % 64 - 32),
    while the bit stream exercises the successive-approximation
    machinery for real (Al=1 DC first scan, raw-bit DC refinement
    scan, EOB-run AC band scans, restart intervals, band splits).  The
    oracle reuses multimodal_jpeg_decode's closed-form histogram
    binning and never parses JPEG."""
    import hashlib

    from html_parser_spark.operators.jpeg import synth_jpeg_gray_progressive
    from html_parser_spark.operators.multimodal import ASSET_SCHEMA, extract_features

    rows = []
    for i in range(64):
        bw_, bh_ = 2 + i % 3, 1 + i % 2
        digest = hashlib.md5(f"p{i}".encode()).hexdigest()
        levels = [int(digest[2 * j:2 * j + 2], 16) % 64 - 32
                  for j in range(bw_ * bh_)]
        payload = synth_jpeg_gray_progressive(
            levels, bw_, bh_, restart_interval=i % 3,
            split_ac_band=bool(i % 2))
        rows.append((i, "image", bytearray(payload),
                     {"src": f"synth://jpeg-prog/{i}"}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    feats = extract_features(assets)
    return feats.select(
        "asset_id", "width", "height",
        F.round(F.element_at("histogram", 7), 6).alias("share_b6"),
        F.round(F.element_at("histogram", 8), 6).alias("share_b7"),
        F.round(F.element_at("histogram", 9), 6).alias("share_b8"),
        F.round(F.element_at("histogram", 10), 6).alias("share_b9"),
    )


# GIF twin: pixel indices are the ASCII md5 hexdigest chars of
# the id (all < 0x80) through an identity-gray palette, so the
# decoded RGB is each char exactly 3x and the 16-bin histogram
# shares equal the char-class shares of the hexdigest string —
# digits land in bin 3 (0x30-0x39), 'a'-'f' in bin 6
@gated("""
    with a as (
        select i as asset_id, (8 + i % 5) as w, (6 + i % 4) as h
        from (select unnest(generate_series(0, 63)) as i)
    ), c as (
        select asset_id, w, h, w * h as np,
               substr(repeat(md5(cast(asset_id as varchar)),
                             cast(ceil(w * h / 32.0) + 1 as int)),
                      1, w * h) as pix
        from a
    )
    select asset_id, w as width, h as height,
           round(cast(len(regexp_replace(pix, '[^0-9]', '', 'g')) as double)
                 / np, 6) as digit_share,
           round(cast(len(regexp_replace(pix, '[^a-f]', '', 'g')) as double)
                 / np, 6) as alpha_share
    from c
""")
def q_multimodal_gif_decode(spark, sf_dir):
    """REAL GIF decode under the value gate: 64 synthesized GIF89a
    frames whose pixel indices are the ASCII md5 hexdigest of the id
    over a 128-entry identity-gray palette (entry k = (k,k,k)), so the
    decoded RGB stream is each hexdigest char exactly three times.
    The pipeline runs the actual LZW + palette + de-interlace decoder
    (odd ids are interlaced, every third id uses a local color
    table); the oracle reconstructs the hexdigest pixel
    string in SQL and derives width/height plus the digit ('0'-'9',
    histogram bin 3) and hex-alpha ('a'-'f', bin 6) shares in closed
    form without ever parsing GIF."""
    from html_parser_spark.operators.gif import synth_gif
    from html_parser_spark.operators.multimodal import ASSET_SCHEMA, extract_features

    rows = []
    for i in range(64):
        payload = synth_gif(i, interlace=bool(i % 2), local_palette=(i % 3 == 0))
        rows.append((i, "image", bytearray(payload), {"src": f"synth://gif/{i}"}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    feats = extract_features(assets)
    return feats.select(
        "asset_id", "width", "height",
        F.round(F.element_at("histogram", 4), 6).alias("digit_share"),
        F.round(F.element_at("histogram", 7), 6).alias("alpha_share"),
    )


# media_probe twin: every header field the walkers read is
# synthesized closed-form in the id (mediaprobe.synth_mp3 /
# synth_mp4), so the oracle recomputes them from the public
# spec tables (ISO 11172-3 Annex B bitrates / samplerates,
# 14496-12 mvhd math) without parsing either container.
# Nullable numerics are strings on both twins (pandas decay).
@gated("""
    with a as (
        select i as asset_id,
               ([44100, 48000, 32000])[i % 3 + 1] as sr,
               ([32, 40, 48, 56, 64, 80, 96, 112,
                 128, 160, 192, 224, 256, 320])[i % 14 + 1] as br,
               3 + i % 5 as nf,
               1000 * (1 + i % 4) as ts
        from (select unnest(generate_series(0, 63)) as i)
    )
    select asset_id,
           case when asset_id % 4 < 2 then 'mp3' else 'mp4' end
               as container,
           cast(case when asset_id % 4 < 2 then nf else 1 end
                as bigint) as n_units,
           cast(case when asset_id % 4 < 2
                     then nf * 1152 * 1000 // sr
                     else (10 + asset_id) * 500 end
                as bigint) as duration_ms,
           cast(case when asset_id % 4 < 2 then sr else ts end
                as int) as sample_rate,
           case when asset_id % 4 < 2
                then cast(1 + asset_id % 2 as varchar) end as channels,
           case when asset_id % 4 < 2
                then cast(br as varchar) end as bit_rate_kbps,
           case when asset_id % 4 >= 2
                then cast(160 + 16 * (asset_id % 8) as varchar) end
               as width,
           case when asset_id % 4 >= 2
                then cast(90 + 9 * (asset_id % 8) as varchar) end
               as height
    from a
""")
def q_media_probe(spark, sf_dir):
    """Structural media metadata under the value gate: 64 synthesized
    containers — MPEG-1 Layer III CBR streams (ids with id%4 in {0,1})
    and minimal ISO-BMFF MP4s (ftyp + moov/mvhd/trak) — probed by the
    real frame/box walkers (ISO 11172-3 headers, 14496-12 boxes).
    Every field is closed-form in the id, so the oracle recomputes
    frame counts, exact durations, bitrates and track dimensions from
    the public spec tables without parsing either container.  Nullable
    numeric columns are cast to string on BOTH twins (mixed NULL/int
    columns decay to float64 on the driver's pandas hash path)."""
    from html_parser_spark.operators.mediaprobe import (
        probe_media, synth_mp3, synth_mp4,
    )
    from html_parser_spark.operators.multimodal import ASSET_SCHEMA

    rows = []
    for i in range(64):
        if i % 4 < 2:
            rows.append((i, "audio", bytearray(synth_mp3(i)), {}))
        else:
            rows.append((i, "video", bytearray(synth_mp4(i)), {}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    return probe_media(assets).select(
        "asset_id", "container", "n_units", "duration_ms", "sample_rate",
        F.col("channels").cast("string").alias("channels"),
        F.col("bit_rate_kbps").cast("string").alias("bit_rate_kbps"),
        F.col("width").cast("string").alias("width"),
        F.col("height").cast("string").alias("height"),
    )


# media_probe_av twin: H.264 dims come from the SPS macroblock
# grid minus 4:2:0 crop units (16*mbs - 2*crop), duration from
# VUI ticks over counted slice NALs; FLAC fields from the
# STREAMINFO packing — all closed-form in synth_h264/synth_flac
@gated("""
    with a as (
        select i as asset_id,
               ([8000, 16000, 22050, 44100, 48000])[i % 5 + 1] as sr
        from (select unnest(generate_series(0, 63)) as i)
    )
    select asset_id,
           case when asset_id % 2 = 0 then 'h264' else 'flac' end
               as container,
           cast(case when asset_id % 2 = 0 then 4 + asset_id % 7
                     else 2 + asset_id % 3 end as bigint) as n_units,
           cast(case when asset_id % 2 = 0
                     then (2 + asset_id % 7) * 1000
                          // (24 + asset_id % 4)
                     else (1000 + 37 * asset_id) * 1000 // sr end
                as bigint) as duration_ms,
           case when asset_id % 2 = 1
                then cast(sr as varchar) end as sample_rate,
           case when asset_id % 2 = 1
                then cast(1 + asset_id % 2 as varchar) end as channels,
           case when asset_id % 2 = 0
                then cast(16 * (1 + asset_id % 10)
                          - 2 * (asset_id % 4) as varchar) end as width,
           case when asset_id % 2 = 0
                then cast(16 * (1 + asset_id % 6)
                          - 2 * (asset_id % 3) as varchar) end as height
    from a
""")
def q_media_probe_av(spark, sf_dir):
    """The bitstream-syntax half of the media probe under the value
    gate: 64 assets — H.264 Annex-B elementary streams for even ids
    (Exp-Golomb SPS: High/Baseline profiles, frame cropping, VUI
    fixed-frame-rate timing over counted slice NALs) and FLAC streams
    for odd ids (RFC 9639 STREAMINFO bit packing).  Every field is
    closed-form in the id.  Mixed-NULL numeric columns are strings on
    both twins (pandas decay)."""
    from html_parser_spark.operators.mediaprobe import (
        probe_media, synth_flac, synth_h264,
    )
    from html_parser_spark.operators.multimodal import ASSET_SCHEMA

    rows = []
    for i in range(64):
        if i % 2 == 0:
            rows.append((i, "video", bytearray(synth_h264(i)), {}))
        else:
            rows.append((i, "audio", bytearray(synth_flac(i)), {}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    return probe_media(assets).select(
        "asset_id", "container", "n_units", "duration_ms",
        F.col("sample_rate").cast("string").alias("sample_rate"),
        F.col("channels").cast("string").alias("channels"),
        F.col("width").cast("string").alias("width"),
        F.col("height").cast("string").alias("height"),
    )


# media_probe_stream twin: WebM duration = float ticks (ts
# scale 10^6 ns) = the integral synth value; Ogg duration =
# last-page granule over the codec rate (Opus: minus the
# pre-skip the synth added back, at 48 kHz).  id%4==2 is
# always Vorbis at 44100 (even id), id%4==1 always Opus
@gated("""
    select i as asset_id,
           case when i % 4 in (0, 3) then 'webm'
                when i % 4 = 2 then 'ogg-vorbis'
                else 'ogg-opus' end as container,
           cast(case when i % 4 in (0, 3) then 2
                     else 2 + i % 4 end as bigint) as n_units,
           cast(case when i % 4 in (0, 3) then 600 + 13 * i
                     when i % 4 = 2
                     then (2000 + 53 * i) * 1000 // 44100
                     else (2000 + 53 * i) * 1000 // 48000 end
                as bigint) as duration_ms,
           cast(case when i % 4 in (0, 3)
                     then ([16000, 24000, 48000])[i % 3 + 1]
                     when i % 4 = 2 then 44100
                     else 48000 end as int) as sample_rate,
           cast(case when i % 4 in (0, 3) then 1 + i % 2
                     when i % 4 = 2 then 1
                     else 2 end as int) as channels,
           case when i % 4 in (0, 3)
                then cast(320 + 16 * (i % 6) as varchar) end as width,
           case when i % 4 in (0, 3)
                then cast(180 + 9 * (i % 6) as varchar) end as height
    from (select unnest(generate_series(0, 63)) as i)
""")
def q_media_probe_stream(spark, sf_dir):
    """The container-walk half of the probe family under the value
    gate: 64 assets — WebM/EBML for id%4 in {0,3} (vint tree walk,
    TimestampScale x float Duration, per-track dims/rate/channels) and
    Ogg for id%4 in {1,2} (page walk + granule math; id%4==2 hits the
    Vorbis id-header branch, id%4==1 the OpusHead branch with pre-skip
    subtraction).  Every field is closed-form in the id."""
    from html_parser_spark.operators.mediaprobe import (
        probe_media, synth_ogg, synth_webm,
    )
    from html_parser_spark.operators.multimodal import ASSET_SCHEMA

    rows = []
    for i in range(64):
        if i % 4 in (0, 3):
            rows.append((i, "video", bytearray(synth_webm(i)), {}))
        else:
            rows.append((i, "audio", bytearray(synth_ogg(i)), {}))
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    return probe_media(assets).select(
        "asset_id", "container", "n_units", "duration_ms",
        "sample_rate", "channels",
        F.col("width").cast("string").alias("width"),
        F.col("height").cast("string").alias("height"),
    )


# asof_join_events twin: the identical union-and-window
# algorithm in SQL — tag errors 0 / clicks 1, carry the last
# non-null error id/epoch forward per user ordered by
# (epoch_us, tag, err_id), then apply the 24 h tolerance.
# epoch_us(ts) matches the Spark side's TZ-invariant
# unix_timestamp*1e6 + fractional-second derivation exactly.
@gated("""
    with u as (
      select user_id, epoch_us(ts) as ts_us, 1 as tag, event_id,
             cast(null as bigint) as r_ord,
             cast(null as bigint) as r_id,
             cast(null as bigint) as r_ts
      from events where event_type = 'click'
      union all
      select user_id, epoch_us(ts), 0, null, event_id, event_id,
             epoch_us(ts)
      from events where event_type = 'error'
    ), w as (
      select *,
        last_value(r_id ignore nulls) over win as m_id,
        last_value(r_ts ignore nulls) over win as m_ts
      from u
      window win as (partition by user_id
                     order by ts_us, tag, r_ord nulls first
                     rows between unbounded preceding
                              and current row)
    )
    select event_id, user_id,
           cast(case when ts_us - m_ts
                          <= cast(86400 as bigint) * 1000000
                then m_id end as varchar) as err_id,
           cast(case when ts_us - m_ts
                          <= cast(86400 as bigint) * 1000000
                then ts_us - m_ts end as varchar) as lag_us
    from w where tag = 1
""")
def q_asof_join_events(spark, sf_dir):
    """As-of join: attach the most recent preceding error (same user,
    backward inclusive, 24 h tolerance) to every click event.  Pure
    DataFrame union-and-window — one shuffle on user_id (see
    operators/temporal.py).  Lag is integral microseconds; unmatched
    or out-of-tolerance clicks carry NULLs."""
    from html_parser_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("err_id"))
    out = asof_join(
        clicks, errors, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["err_id"], right_order="err_id",
        tolerance_us=86_400_000_000, lag_col="lag_us",
    )
    # Nullable bigints decay to float64 on DuckDB's .df() hash path —
    # ship them as strings on both twins (CLAUDE.md gotcha).
    return out.select(
        "event_id", "user_id",
        F.col("err_id").cast("string").alias("err_id"),
        F.col("lag_us").cast("string").alias("lag_us"),
    )


# sessionize_events twin: lag + running-sum session numbering,
# then a per-(user, session) rollup; all integral epoch math
@gated("""
    with g as (
      select user_id, event_id, epoch_us(ts) as us from events
    ), f as (
      select *, case when us - lag(us) over (
                 partition by user_id order by us, event_id)
               > cast(7200 as bigint) * 1000000
               then 1 else 0 end as new_sess
      from g
    ), s as (
      select *, sum(new_sess) over (
          partition by user_id order by us, event_id
          rows between unbounded preceding and current row
      ) as session_idx
      from f
    )
    select user_id, cast(session_idx as bigint) as session_idx,
           count(*) as n_events,
           min(us) // 1000000 as start_epoch_s,
           max(us) - min(us) as duration_us
    from s group by user_id, session_idx
""")
def q_sessionize_events(spark, sf_dir):
    """Gap sessionization: split each user's event stream at >2 h idle
    gaps; per-session rollup with integral epoch/duration columns.
    One shuffle on user_id; the session aggregate reuses the window's
    hash partitioning (no second exchange)."""
    from html_parser_spark.operators.temporal import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(ev, key="user_id", ts="ts", order="event_id",
                         gap_s=7200)


# corpus_split_assign twin: same md5-hex-prefix bucket hash
# (Spark conv(substr(md5,1,8),16,10) == DuckDB '0x'||substr
# cast), same [900, 950) bucket boundaries
@gated("""
    select doc_id,
           case when ('0x' || substr(md5(cast(doc_id as varchar)),
                                     1, 8))::bigint % 1000 < 900
                then 'train'
                when ('0x' || substr(md5(cast(doc_id as varchar)),
                                     1, 8))::bigint % 1000 < 950
                then 'val'
                else 'test' end as split
    from documents
""")
def q_corpus_split_assign(spark, sf_dir):
    """Deterministic train/val/test holdout: md5-hash-bucket each
    doc_id (engine-portable, content-independent — a doc's split
    never changes as the corpus grows) and map bucket ranges to
    splits.  Map-only, no shuffle (operators/corpusprep.py)."""
    from html_parser_spark.operators.corpusprep import split_assign

    d = _docs(spark, sf_dir)
    return split_assign(d).select("doc_id", "split")


# pack_sequences twin: identical hash-shard + running-sum
# stream coordinates; integer floor-division chop at 512
@gated("""
    with base as (
      select ('0x' || substr(md5(cast(doc_id as varchar)),
                             1, 8))::bigint % 8 as bucket,
             doc_id,
             cast(len(string_split(text, ' ')) as bigint) as n_tokens
      from documents
    ), s as (
      select *, sum(n_tokens) over (
          partition by bucket order by doc_id
          rows between unbounded preceding and current row
      ) - n_tokens as start_offset
      from base
    )
    select bucket, doc_id, n_tokens,
           cast(start_offset as bigint) as start_offset,
           cast(start_offset // 512 as bigint) as seq_id,
           cast(case when n_tokens > 0
                     and (start_offset + n_tokens - 1) // 512
                         > start_offset // 512
                then 1 else 0 end as int) as crosses_cut
    from s
""")
def q_pack_sequences(spark, sf_dir):
    """Concatenate-and-chop sequence packing plan (GPT-style
    pretraining layout): shard docs into 8 hash streams, order by id,
    chop every 512 whitespace tokens; per-doc stream coordinates.
    One shuffle on the bucket key (operators/corpusprep.py)."""
    from html_parser_spark.operators.corpusprep import pack_sequences

    d = _docs(spark, sf_dir)
    return pack_sequences(d, budget=512, n_buckets=8)


def _pii_oracle_sql() -> str:
    """pii_scrub twin built from the SAME pattern table as the Spark
    side (operators/pii.py PII_PATTERNS — Java/RE2 shared subset, so
    leftmost non-overlapping match semantics agree engine-to-engine).
    Counts via len(regexp_extract_all) on the original text; redaction
    via nested global regexp_replace in the fixed class order."""
    inject = (
        "text || ' reach u' || cast(doc_id as varchar) "
        "|| '@mail.example.org or 10.0.' "
        "|| cast(doc_id % 256 as varchar) || '.7, ssn 123-45-' "
        "|| lpad(cast(doc_id % 10000 as varchar), 4, '0') "
        "|| ' tel 415-555-' "
        "|| lpad(cast(doc_id % 10000 as varchar), 4, '0')"
    )
    counts = ",\n                   ".join(
        f"len(regexp_extract_all(text, '{pat}')) as n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
        with t as (
            select doc_id,
                   case when doc_id % 3 = 0 then {inject} else text end
                       as text
            from documents where doc_id < 400
        )
        select doc_id,
               {counts},
               {total} as n_pii,
               {red} as redacted
        from t
    """


@gated(_pii_oracle_sql())
def q_pii_scrub(spark, sf_dir):
    """PII accounting + redaction (training-data scrub): per-doc
    email/IP/SSN/phone counts on the original text plus the text with
    every match replaced by a typed placeholder.  Deterministic PII is
    injected into every third document so both zero and multi-match
    rows are exercised.  Map-only, JVM-side regex (operators/pii.py);
    patterns use the Java/RE2 shared subset so the DuckDB twin is
    bit-exact."""
    from html_parser_spark.operators.pii import pii_scrub

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    inject = F.concat(
        F.col("text"),
        F.lit(" reach u"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7, ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" tel 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, inject).otherwise(F.col("text")),
    )
    return pii_scrub(t)


# hash_sample twin: same md5-hex-prefix bucket in [0, 1e6),
# same per-lang thresholds (en 500k, de 100k, default 200k);
# NULL lang falls through the CASE to the default on both
# engines (3VL-consistent)
@gated("""
    select doc_id, lang from documents
    where ('0x' || substr(md5(cast(doc_id as varchar)),
                          1, 8))::bigint % 1000000
          < case when lang = 'en' then 500000
                 when lang = 'de' then 100000
                 else 200000 end
""")
def q_hash_sample(spark, sf_dir):
    """Deterministic per-stratum rate sampling (corpus mixing): keep a
    doc iff its md5-prefix bucket falls below the stratum's rate
    threshold (en 50%, de 10%, default 20%).  Content-independent and
    engine-portable — the keep/drop decision never changes as the
    corpus grows.  Map-only, no shuffle (operators/sampling.py)."""
    from html_parser_spark.operators.sampling import hash_sample

    d = _docs(spark, sf_dir)
    out = hash_sample(d, rate=0.2, strata_col="lang",
                      strata_rates={"en": 0.5, "de": 0.1})
    return out.select("doc_id", "lang")


# stratified_quota twin: row_number over (hash-bucket, id)
# within each lang, rank filter at 25
@gated("""
    select doc_id, lang, sample_rank from (
        select doc_id, lang,
               row_number() over (
                   partition by lang
                   order by ('0x' || substr(md5(cast(doc_id as
                                varchar)), 1, 8))::bigint
                            % 1000000,
                            doc_id) as sample_rank
        from documents
    ) where sample_rank <= 25
""")
def q_stratified_quota(spark, sf_dir):
    """Exact per-stratum quota sampling: 25 docs per language, chosen
    by (md5-prefix hash, id) order — a deterministic uniform draw
    without replacement.  One shuffle on lang; the rank filter pushes
    down as WindowGroupLimit so a hot stratum ships at most 25 rows
    per input partition (operators/sampling.py)."""
    from html_parser_spark.operators.sampling import stratified_quota

    d = _docs(spark, sf_dir)
    return stratified_quota(d, strata_col="lang", n=25).select(
        "doc_id", "lang", "sample_rank")


# incremental_dedup twin: internal first-per-hash window over
# the synthesized batch, then NOT EXISTS against the history
# hash set — exactly docs 300..399 survive
@gated("""
    with hist as (
        select distinct md5(text) as content_hash
        from documents where doc_id < 300
    ), batch as (
        select doc_id, text from documents
        where doc_id >= 200 and doc_id < 400
        union all
        select doc_id + 1000 as doc_id, text from documents
        where doc_id >= 350 and doc_id < 400
    ), b as (
        select doc_id, md5(text) as content_hash,
               row_number() over (partition by md5(text)
                                  order by doc_id asc) as rn
        from batch
    )
    select doc_id, content_hash from b
    where rn = 1 and not exists (
        select 1 from hist
        where hist.content_hash = b.content_hash)
""")
def q_incremental_dedup(spark, sf_dir):
    """Snapshot-delta exact dedup (the production daily-crawl shape):
    dedup a new batch internally (lowest id per content hash) then
    anti-join its hashes against the already-ingested history corpus.
    Batch = docs 200..399 plus id+1000 copies of 350..399 (internal
    dups); history = docs < 300 — so exactly 300..399 survive.  One
    hash shuffle + one anti-join (operators/dedup.py)."""
    from html_parser_spark.operators.dedup import incremental_new_docs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    hist = d.where(F.col("doc_id") < 300)
    fresh = d.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
    dups = (d.where((F.col("doc_id") >= 350) & (F.col("doc_id") < 400))
            .withColumn("doc_id", F.col("doc_id") + 1000))
    batch = fresh.unionByName(dups)
    return incremental_new_docs(batch, hist).select("doc_id", "content_hash")


# unigram_nll twin: same add-1-smoothed unigram NLL, floor at
# 4 decimals (double log/avg agrees across engines ≪ 1e-4)
@gated("""
    with toks as (
        select doc_id,
               unnest(string_split(text, ' ')) as token
        from documents where doc_id < 300
    ), tf as (
        select * from toks where token <> ''
    ), freq as (
        select token, count(*) as n from tf group by token
    ), tot as (
        select cast(sum(n) as double) as N_,
               cast(count(*) as double) as V_
        from freq
    )
    select t.doc_id,
           floor(avg(-ln((f.n + 1.0) / (tot.N_ + 1.0 * tot.V_)))
                 * 10000) / 10000 as nll
    from tf t join freq f using (token), tot
    group by t.doc_id
""")
def q_unigram_nll(spark, sf_dir):
    """Corpus-statistical quality scoring (the CCNet/Gopher
    LM-perplexity filter, codec-free): per-doc mean negative log
    probability under the corpus's own add-1-smoothed unigram model.
    Two keyed aggregations + one token join (model side is one row
    per token); floor-quantized to 4 decimals — avg-of-logs agrees
    across engines far below 1e-4 (operators/textstats.py)."""
    from html_parser_spark.operators.textstats import doc_neg_logprob

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    out = doc_neg_logprob(d)
    return out.select(
        "doc_id", (F.floor(F.col("nll") * 10000) / 10000).alias("nll"))


# expected language mix per doc: blocks are [en, de, f(lang),
# en], so the profile is a direct CASE on the lang column
# (en: en=3/de=1; de: 2-2 tie -> 'de' lexicographically;
# fr/es: en=2 + 1 each; zh: stopword-less block -> 'und')
@gated("""
    select doc_id,
           4 as n_blocks,
           case when lang in ('en', 'de') then 2 else 3 end
               as n_langs,
           case when lang = 'de' then 'de' else 'en' end
               as lang_dominant,
           case when lang = 'en' then 3 else 2 end
               as n_dominant
    from documents
""")
def q_language_mix(spark, sf_dir):
    """Per-block language segmentation (textstats.language_mix): each
    page carries two fixed blocks (one English, one German), a block
    whose language tracks the doc's lang column (zh → no stopword
    hits → 'und'), and a second English block.  The de case pins the
    deterministic tie-break (en 2 vs de 2 → lexicographically
    smallest wins).  One Arrow pass + two keyed aggregations; the
    oracle enumerates the expected mix per lang analytically."""
    from html_parser_spark.operators.textstats import language_mix

    sent = (F.when(F.col("lang") == "en", F.lit("the and of for"))
            .when(F.col("lang") == "de", F.lit("der und ein mit"))
            .when(F.col("lang") == "fr", F.lit("les et une pour"))
            .when(F.col("lang") == "es", F.lit("los y una para"))
            .otherwise(F.lit("ni hao ma shi")))
    html = F.concat(
        F.lit("<div><p>the cat and the dog is in it</p>"
              "<p>der hund und die katze ist mit</p><p>"),
        sent,
        F.lit("</p><p>the cat and the dog is in it</p></div>"),
    )
    df = _docs(spark, sf_dir).withColumn("html", html)
    return language_mix(df).select(
        "doc_id", "n_blocks", "n_langs", "lang_dominant", "n_dominant")


# bigram_nll twin: add-1-smoothed p(w2|w1) over adjacent pairs
# (list_zip of the two shifted slices = Spark's arrays_zip),
# ctx(w1) = pair-count row sums, V = distinct right tokens
@gated("""
    with docs_f as (
        select doc_id,
               list_filter(string_split(text, ' '),
                           x -> x <> '') as ws
        from documents where doc_id < 300
    ), pairs as (
        select doc_id, bg[1] as w1, bg[2] as w2
        from (select doc_id,
                     unnest(list_zip(ws[1:len(ws)-1],
                                     ws[2:len(ws)])) as bg
              from docs_f where len(ws) >= 2)
    ), model as (
        select w1, w2, count(*) as c from pairs group by 1, 2
    ), ctx as (
        select w1, cast(sum(c) as double) as cw
        from model group by 1
    ), v as (
        select cast(count(distinct w2) as double) as V_ from pairs
    )
    select p.doc_id,
           floor(avg(-ln((m.c + 1.0) / (x.cw + 1.0 * v.V_)))
                 * 10000) / 10000 as nll2
    from pairs p
    join model m on p.w1 = m.w1 and p.w2 = m.w2
    join ctx x on p.w1 = x.w1
    cross join v
    group by p.doc_id
""")
def q_bigram_nll(spark, sf_dir):
    """Order-sensitive LM quality score: per-doc mean negative log
    probability of each adjacent token pair under the corpus's own
    add-1-smoothed bigram model p(w2|w1) — catches shuffled/templated
    text whose unigram profile looks normal.  Model = one row per
    distinct pair; contexts = one row per token; V broadcast.
    Floor-quantized to 4 decimals (operators/textstats.py)."""
    from html_parser_spark.operators.textstats import doc_bigram_nll

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    out = doc_bigram_nll(d)
    return out.select(
        "doc_id", (F.floor(F.col("nll2") * 10000) / 10000).alias("nll2"))


# bm25_topk twin: identical Lucene-variant BM25 (k1=1.2,
# b=0.75), floor-quantized scores rank with id tie-break so
# the top-20 SET matches across engines
@gated(_bm25_oracle_sql())
def q_bm25_topk(spark, sf_dir):
    """Lexical retrieval: top-20 documents by Okapi/Lucene BM25 for a
    3-term query.  The query-term filter lands before the tf
    aggregation (only matching postings shuffle); df and corpus stats
    broadcast; final top-k is a TakeOrdered.  Scores floor-quantized
    to 4 decimals BEFORE ranking so the selected set and tie-breaks
    (score desc, id asc) are engine-portable
    (operators/lexical.py)."""
    from html_parser_spark.operators.lexical import bm25_topk

    d = _docs(spark, sf_dir)
    return bm25_topk(d, ["hash", "merge", "customer"], k=20)


# chunk_documents twin: same window-count formula
# max(1, ceil((n-8)/24)), 1-based inclusive list slices ==
# Spark slice(start, len), final short window truncated alike
@gated("""
    with d as (
        select doc_id, string_split(text, ' ') as toks
        from documents where doc_id < 200
    ), base as (
        select doc_id, toks,
               cast(len(toks) as bigint) as n_tokens,
               greatest(1, cast(ceil((len(toks) - 8.0) / 24.0)
                                as bigint)) as nc
        from d
    ), e as (
        select doc_id, n_tokens, toks,
               unnest(generate_series(0, nc - 1)) as chunk_idx
        from base
    )
    select doc_id, n_tokens,
           cast(chunk_idx as int) as chunk_idx,
           cast(len(toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)])
                as int) as chunk_len,
           array_to_string(
               toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)],
               ' ') as chunk_text
    from e
""")
def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (RAG / long-context prep): 32-token
    windows overlapping by 8, final short window kept, empty docs
    yield one empty chunk.  Pure row expansion in the scan projection
    — no shuffle, no Python (operators/corpusprep.py)."""
    from html_parser_spark.operators.corpusprep import chunk_documents

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return chunk_documents(d, chunk=32, overlap=8)


# hybrid_rrf twin: rank the same two top-20 lists (quantized
# scores, id tie-breaks), full outer join, 1/(60+rank) fusion;
# nullable ranks ship as varchar (the .df() float64-decay
# gotcha); divisions cast to double so DuckDB's decimal
# literal arithmetic cannot diverge from IEEE
@gated(f"""
    with lex_top as (select * from ({_bm25_oracle_sql()}) t),
    lex as (
        select id, row_number() over (
            order by score desc, id asc) as rank_a
        from lex_top
    ), sem_top as (
        select e.vec_id as id,
               round(list_cosine_similarity(e.embedding,
                                            q.embedding), 4)
                   as cosine
        from embeddings e,
             (select embedding from embeddings
              where vec_id = 0) q
        where e.vec_id <> 0
        order by cosine desc, e.vec_id asc limit 20
    ), sem as (
        select id, row_number() over (
            order by cosine desc, id asc) as rank_b
        from sem_top
    ), f as (
        select coalesce(lex.id, sem.id) as id,
               lex.rank_a, sem.rank_b,
               coalesce(cast(1 as double) / (60 + lex.rank_a),
                        cast(0 as double))
               + coalesce(cast(1 as double) / (60 + sem.rank_b),
                          cast(0 as double)) as rrf
        from lex full outer join sem on lex.id = sem.id
    )
    select id, rrf,
           cast(rank_a as varchar) as rank_a,
           cast(rank_b as varchar) as rank_b
    from f order by rrf desc, id asc limit 10
""")
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    top-20 (lexical) and the cosine top-20 (semantic, same id space).
    Both lists rank on quantized scores with id tie-breaks, so rank
    assignment — and therefore the fused order — is engine-portable.
    Nullable int ranks ship as strings (the .df() float64-decay
    gotcha).  operators/lexical.rrf_fuse."""
    from html_parser_spark.operators.lexical import bm25_topk, rrf_fuse

    d = _docs(spark, sf_dir)
    lex = bm25_topk(d, ["hash", "merge", "customer"], k=20)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    sem = (
        cosine_topk(e.where(F.col("vec_id") != 0),
                    [float(x) for x in qvec], k=20, quantize=4)
        .select(F.col("vec_id").alias("id"), "cosine")
    )
    out = rrf_fuse(lex, sem, id_col="id", score_a="score",
                   score_b="cosine", k=60, topn=10)
    return out.select(
        "id", "rrf",
        F.col("rank_a").cast("string").alias("rank_a"),
        F.col("rank_b").cast("string").alias("rank_b"),
    )


def _pagerank_oracle_sql(n_iter: int = 8) -> str:
    """pagerank_links twin: the identical synthetic edge construction
    and the full damping/dangling update, UNROLLED one CTE per
    iteration (recursive CTEs cannot re-aggregate the whole rank
    vector per step).  All constants routed through double casts so
    DuckDB's decimal literal arithmetic cannot diverge from Spark's
    IEEE doubles — (1 - 0.85) is computed, not written as 0.15, to
    reproduce the same representation error."""
    iters = []
    for k in range(1, n_iter + 1):
        iters.append(f"""
            , r{k} as (
                select nodes.node,
                       (cast(1 as double) - cast(0.85 as double)) / nn.n
                       + cast(0.85 as double) * (
                           coalesce(m.mass, cast(0 as double))
                           + d.dm / nn.n) as rank
                from nodes
                left join (
                    select ed.dst as node,
                           sum(r.rank / ed.out_deg) as mass
                    from ed join r{k - 1} r on r.node = ed.src
                    group by ed.dst
                ) m on nodes.node = m.node
                cross join (
                    select coalesce(sum(rank), cast(0 as double)) as dm
                    from r{k - 1}
                    where node not in (select distinct src from edges)
                ) d
                cross join nn
            )""")
    return f"""
            with ids as (
                select doc_id as src from documents where doc_id < 100
            ), edges as (
                select src, (src * 7 + 3) % 100 as dst
                from ids where src % 17 <> 0
                union all
                select src, (src * 13 + 11) % 100 as dst
                from ids where src % 17 <> 0
                union all
                select src, (src + 1) % 100 as dst
                from ids where src % 3 = 0 and src % 17 <> 0
            ), nodes as (
                select src as node from edges
                union
                select dst as node from edges
            ), nn as (
                select cast(count(*) as double) as n from nodes
            ), odeg as (
                select src, cast(count(*) as double) as out_deg
                from edges group by src
            ), ed as (
                select e.src, e.dst, o.out_deg
                from edges e join odeg o using (src)
            ), r0 as (
                select node, cast(1 as double) / nn.n as rank
                from nodes cross join nn
            ){''.join(iters)}
            select node,
                   floor(rank * 1000000) / 1000000 as rank
            from r{n_iter}
    """


@gated(_pagerank_oracle_sql())
def q_pagerank_links(spark, sf_dir):
    """Link-graph PageRank (the CommonCrawl-style document-quality
    prior): 8 damped iterations with dangling-mass redistribution over
    a deterministic synthetic multigraph on doc ids < 100 (two modular
    out-links each, a third for ids % 3 == 0, ids % 17 == 0 emit
    nothing and dangle).  One aggregation shuffle per iteration,
    localCheckpoint lineage truncation (operators/graph.py); ranks
    floor-quantized at 6 decimals."""
    from html_parser_spark.operators.graph import pagerank

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("src"))
    e1 = d.select("src", ((F.col("src") * 7 + 3) % 100).alias("dst"))
    e2 = d.select("src", ((F.col("src") * 13 + 11) % 100).alias("dst"))
    e3 = d.where(F.col("src") % 3 == 0).select(
        "src", ((F.col("src") + 1) % 100).alias("dst"))
    edges = (e1.unionByName(e2).unionByName(e3)
             .where(F.col("src") % 17 != 0))
    pr = pagerank(edges, n_iter=8, damping=0.85, checkpoint_every=4)
    return pr.select(
        "node", (F.floor(F.col("rank") * 1000000) / 1000000).alias("rank"))


# quantile_floor twin: quantile_cont == Spark percentile
# (both linear interpolation on the sorted group), same p25
# floor join-back
@gated("""
    with q as (
        select lang,
               quantile_cont(n_chars, 0.25) as q_0_25,
               quantile_cont(n_chars, 0.5) as q_0_5,
               quantile_cont(n_chars, 0.75) as q_0_75
        from documents group by lang
    ), t as (
        select lang, count(*) as n_docs
        from documents group by lang
    ), k as (
        select d.lang, count(*) as n_kept
        from documents d join q on d.lang = q.lang
        where d.n_chars >= q.q_0_25
        group by d.lang
    )
    select q.lang, q.q_0_25, q.q_0_5, q.q_0_75,
           t.n_docs, k.n_kept
    from q join t using (lang) join k using (lang)
""")
def q_quantile_floor(spark, sf_dir):
    """Adaptive per-stratum curation thresholds (the Gopher-style
    'drop the worst quartile PER LANGUAGE' rule): exact per-lang
    quantiles of n_chars (linear interpolation — Spark `percentile`
    and DuckDB `quantile_cont` agree bit-for-bit) plus the count
    surviving the p25 floor.  Two aggregations + one broadcast
    threshold join-back; the corpus never shuffles
    (operators/curate.py)."""
    from html_parser_spark.operators.curate import (
        percentile_floor_filter, stratum_quantiles,
    )

    d = _docs(spark, sf_dir)
    qs = stratum_quantiles(d, "n_chars", "lang", (0.25, 0.5, 0.75))
    total = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # reuse the quantile frame as the filter's thresholds — one
    # percentile aggregation total, like the oracle's shared q CTE
    kept = (percentile_floor_filter(d, "n_chars", "lang", 0.25,
                                    thresholds=qs)
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")))
    return (qs.join(total, "lang").join(kept, "lang")
            .select("lang", "q_0_25", "q_0_5", "q_0_75",
                    "n_docs", "n_kept"))


# corpus_rollup twin: GROUP BY ROLLUP with the same
# grouping-id bit convention (first column = high bit)
@gated("""
    select lang, source, count(*) as n_docs,
           cast(sum(n_chars) as bigint) as sum_chars,
           cast(grouping(lang, source) as int) as gid
    from documents group by rollup(lang, source)
""")
def q_corpus_rollup(spark, sf_dir):
    """Multi-level aggregation: ROLLUP over (lang, source) with
    doc counts, char sums, and the grouping-id bit vector — the
    corpus accounting table a mixture designer reads (per-slice,
    per-lang subtotal, grand total in ONE pass; Catalyst expands the
    rollup into a single Expand + hash aggregate, not three scans).
    Integral sums cast BIGINT on the oracle (HUGEINT .df() decay)."""
    d = _docs(spark, sf_dir)
    return (
        d.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"),
             F.grouping_id().alias("gid"))
    )


# corpus_pivot twin: conditional aggregation; nullable bigint
# cells ship as varchar
@gated("""
    select lang,
           cast(sum(n_chars) filter (where source = 'src0')
                as varchar) as src0,
           cast(sum(n_chars) filter (where source = 'src1')
                as varchar) as src1,
           cast(sum(n_chars) filter (where source = 'src2')
                as varchar) as src2,
           cast(sum(n_chars) filter (where source = 'src3')
                as varchar) as src3
    from documents
    where source in ('src0', 'src1', 'src2', 'src3')
    group by lang
""")
def q_corpus_pivot(spark, sf_dir):
    """Pivot: per-lang char totals across four explicit sources as
    columns (the wide corpus-mix report).  An explicit value list
    keeps the schema static — no driver-side distinct scan.  Nullable
    bigint cells ship as strings on both twins (the .df()
    float64-decay gotcha)."""
    srcs = ["src0", "src1", "src2", "src3"]
    d = _docs(spark, sf_dir).where(F.col("source").isin(srcs))
    wide = d.groupBy("lang").pivot("source", srcs).agg(F.sum("n_chars"))
    return wide.select(
        "lang", *[F.col(s).cast("string").alias(s) for s in srcs])


# expected Markdown emitted analytically from the raw columns —
# the oracle never sees the HTML the Spark side parses
@gated("""
    select doc_id,
           '# Doc ' || cast(doc_id as varchar)
           || chr(10) || chr(10) || text
           || chr(10) || chr(10)
           || array_to_string(
                list_transform(string_split(text, ' '), w -> '- ' || w),
                chr(10))
           || chr(10) || chr(10) || '> ' || string_split(text, ' ')[1]
           || chr(10) || chr(10) || '| lang | n |'
           || chr(10) || '| --- | --- |'
           || chr(10) || '| ' || lang || ' | ' || cast(n_chars as varchar) || ' |'
           || chr(10) || chr(10)
           || 'See [' || lang || '](https://ex.org/' || cast(doc_id as varchar)
           || ') and `s_' || source || '`.' as markdown
    from documents
""")
def q_html_to_markdown(spark, sf_dir):
    """DOM → Markdown rendering (kernel/markdown.py): headings, list,
    blockquote, pipe table, link, inline code — structure-preserving
    corpus prep, map-only.  The page is deterministic string
    concatenation, so the oracle emits the expected Markdown
    analytically (DuckDB never sees HTML)."""
    words = F.split(F.col("text"), " ")
    lis = F.array_join(
        F.transform(words, lambda w: F.concat(F.lit("<li>"), w, F.lit("</li>"))), "")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<article><h1>Doc "), did,
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><ul>"), lis,
        F.lit("</ul><blockquote><p>"), F.element_at(words, 1),
        F.lit("</p></blockquote>"),
        F.lit("<table><tr><th>lang</th><th>n</th></tr><tr><td>"),
        F.col("lang"), F.lit("</td><td>"), F.col("n_chars").cast("string"),
        F.lit("</td></tr></table><p>See <a href='https://ex.org/"), did,
        F.lit("'>"), F.col("lang"),
        F.lit("</a> and <code>s_"), F.col("source"),
        F.lit("</code>.</p></article>"),
    )
    df = _docs(spark, sf_dir).withColumn("html", html)
    return df.select(
        "doc_id",
        html_ops.to_markdown_udf()(F.col("html")).alias("markdown"),
    )


# every field is a direct expression of the page construction;
# the missing selector is a typed NULL on both twins
@gated("""
    select doc_id,
           'Doc ' || cast(doc_id as varchar) as title,
           'author_' || source as author,
           '/p/' || cast(doc_id as varchar) as url,
           lang as published,
           cast(null as varchar) as missing
    from documents
""")
def q_html_field_extract(spark, sf_dir):
    """Wrapper extraction (html_ops.fields_udf): five named fields —
    innerText fields, attribute fields, and a deliberately-missing
    selector (null) — from ONE parse per document (k fields cost one
    DOM, not k).  Map-only struct column expanded JVM-side; the page
    is deterministic concatenation so every field is analytic."""
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<article><h1>Doc "), did, F.lit("</h1>"),
        F.lit("<span class='by'>author_"), F.col("source"),
        F.lit("</span><a id='perma' href='/p/"), did,
        F.lit("'>link</a><time datetime='"), F.col("lang"),
        F.lit("'>when</time><p>"), F.col("text"),
        F.lit("</p></article>"),
    )
    ex = html_ops.fields_udf({
        "title": "h1",
        "author": "span.by",
        "url": ("a#perma", "href"),
        "published": ("time", "datetime"),
        "missing": "h2",
    })
    df = _docs(spark, sf_dir).withColumn("html", html)
    return (df.select("doc_id", ex(F.col("html")).alias("r"))
            .select("doc_id", "r.title", "r.author", "r.url",
                    "r.published", "r.missing"))


# per-block document frequency from the page construction: the FOOTER
# block is on every page of its host, the body on every page of the
# host with the same text, the tail on its own page only; the operator
# drops a block when df_docs >= 2 and df_docs >= 0.5 * host_docs
@gated("""
    with d as (
        select doc_id, source, text,
               count(*) over (partition by source) as host_docs,
               count(*) over (partition by source, text) as body_docs
        from documents
    ), k as (
        select doc_id, source, text,
               host_docs < 2 as keep_footer,
               not (body_docs >= 2 and body_docs >= 0.5 * host_docs)
                   as keep_body
        from d
    )
    select doc_id,
           case when keep_footer then 'FOOTER ' || source || chr(10) else '' end
           || case when keep_body then text || chr(10) else '' end
           || 'tail ' || cast(doc_id as varchar) as main_text,
           cast(1 + keep_footer::int + keep_body::int as int) as n_blocks_kept,
           cast(2 - keep_footer::int - keep_body::int as int) as n_blocks_dropped
    from k
""")
def q_boilerplate_removal(spark, sf_dir):
    """Site-level boilerplate removal (operators/boilerplate.py): the
    cross-document frequency signal a single-node parser cannot
    compute — blocks repeating across ≥50% of a host's pages are
    chrome.  Each page carries one host-constant FOOTER block, the
    body text and a unique tail; survivors keep document order.  One
    kernel pass; the (host, fp) doc frequency is a window over the
    blocks, and the doc_id reassembly is the other shuffle.  The oracle
    derives each block's per-host document frequency from the page
    construction and applies the same drop rule."""
    from html_parser_spark.operators.boilerplate import remove_boilerplate

    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<div><p>FOOTER "), F.col("source"), F.lit("</p><p>"),
        F.col("text"), F.lit("</p><p>tail "), did, F.lit("</p></div>"),
    )
    df = (_docs(spark, sf_dir)
          .withColumn("html", html)
          .withColumn("host", F.col("source")))
    return (remove_boilerplate(df)
            .select("doc_id", "main_text",
                    "n_blocks_kept", "n_blocks_dropped"))


# expected table cells emitted analytically: the fixed 6-cell
# header/body block plus one cell per word of text (the second
# table), positions via lateral generate_series (the DuckDB
# WITH-ORDINALITY substitute)
@gated("""
    with fixed as (
        select doc_id, 0 as table_idx, 0 as row_idx, 0 as cell_idx,
               'lang' as cell from documents
        union all select doc_id, 0, 0, 1, 'n' from documents
        union all select doc_id, 0, 1, 0, lang from documents
        union all select doc_id, 0, 1, 1, cast(n_chars as varchar) from documents
        union all select doc_id, 0, 1, 2, '**' || source || '**' from documents
        union all select doc_id, 0, 2, 0, 'x & y' from documents
    ),
    words as (
        select doc_id, 1 as table_idx, 0 as row_idx,
               cast(i as int) as cell_idx, ws[i + 1] as cell
        from (select doc_id, string_split(text, ' ') as ws from documents),
             lateral (select unnest(generate_series(0, len(ws) - 1)) as i)
    )
    select * from fixed union all select * from words
""")
def q_html_table_cells(spark, sf_dir):
    """Structured table extraction (html_ops.table_cells_udf — same
    kernel walk as the Markdown pipe-table renderer): every cell of
    every <table> as (table_idx, row_idx, cell_idx, cell), with
    thead/tbody transparent, th+td uniform, ragged rows kept, inline
    markup rendered (<b> → **…**) and entities decoded.  The kernel
    runs ONCE per document and returns one array; the fan-out to cell
    rows is a JVM-side explode — map-only, no shuffle.  The page is
    deterministic concatenation, so the oracle emits the expected
    cells analytically (DuckDB never parses HTML)."""
    words = F.split(F.col("text"), " ")
    tds = F.array_join(
        F.transform(words, lambda w: F.concat(F.lit("<td>"), w, F.lit("</td>"))), "")
    html = F.concat(
        F.lit("<table><thead><tr><th>lang</th><th>n</th></tr></thead>"
              "<tbody><tr><td>"), F.col("lang"),
        F.lit("</td><td>"), F.col("n_chars").cast("string"),
        F.lit("</td><td><b>"), F.col("source"),
        F.lit("</b></td></tr><tr><td>x &amp; y</td></tr></tbody></table>"
              "<p>between</p><table><tr>"),
        tds, F.lit("</tr></table>"),
    )
    df = _docs(spark, sf_dir).withColumn("html", html)
    return (
        df.select(
            "doc_id",
            F.explode(html_ops.table_cells_udf()(F.col("html"))).alias("c"))
        .select("doc_id", "c.table_idx", "c.row_idx", "c.cell_idx", "c.cell")
    )


# the oracle knows the URL construction, so the canonical form
# is a direct analytic expression (DuckDB never parses a URL)
@gated("""
    select doc_id,
           'https://' || source || '.example.com/docs/'
             || cast(doc_id as varchar) || '?ref=' || lang as url_norm,
           source || '.example.com' as host,
           'example.com' as domain
    from documents
""")
def q_url_normalize(spark, sf_dir):
    """URL canonicalization (operators/urls.py): scheme/host lowercase,
    default port stripped, fragment dropped, utm_*/click-id params
    filtered — all JVM-side Column expressions (zero Python in the
    plan), the key-maker for URL-level dedup."""
    from html_parser_spark.operators.urls import with_url_columns

    did = F.col("doc_id").cast("string")
    raw = F.concat(
        F.lit("HTTPS://"), F.upper(F.col("source")),
        F.lit(".Example.COM:443/docs/"), did,
        F.lit("?utm_source=feed&ref="), F.col("lang"),
        F.lit("&utm_campaign=x#sec-"), did,
    )
    df = _docs(spark, sf_dir).withColumn("url", raw)
    return with_url_columns(df).select("doc_id", "url_norm", "host", "domain")


@gated("""
    select source || '.example.com' as host,
           count(*) as n_docs,
           cast(count(distinct lang) as bigint) as n_langs,
           cast(sum(n_chars) as bigint) as sum_chars
    from documents
    group by 1 order by 1
""")
def q_url_domain_stats(spark, sf_dir):
    """Per-host corpus accounting over canonicalized URLs: the quota
    input for per-domain sampling.  One hash-aggregate shuffle on host;
    countDistinct expands to two-phase distinct aggregation (partial on
    the map side) — the 100-TB shape."""
    from html_parser_spark.operators.urls import with_url_columns

    raw = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?ref="), F.col("lang"),
    )
    df = with_url_columns(_docs(spark, sf_dir).withColumn("url", raw))
    return (
        df.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("host")
    )


# the oracle knows every href shape and the base-URL
# construction, so each of the 7 resolved links is a direct
# string expression (DuckDB resolves nothing)
@gated("""
    with b as (
        select doc_id,
               'https://' || source || '.example.com' as hostp,
               cast(doc_id as varchar) as did, lang, source
        from documents
    )
    select doc_id, 0 as pos,
           hostp || '/abs/' || did as url_abs,
           hostp || '/abs/' || did as url_norm from b
    union all select doc_id, 1, hostp || '/dir/sub/rel/' || lang,
           hostp || '/dir/sub/rel/' || lang from b
    union all select doc_id, 2, hostp || '/dir/up',
           hostp || '/dir/up' from b
    union all select doc_id, 3, 'https://cdn.example.com/' || source,
           'https://cdn.example.com/' || source from b
    union all select doc_id, 4, 'https://Other.COM:443/x?id=' || did,
           'https://other.com/x?id=' || did from b
    union all select doc_id, 5, hostp || '/dir/sub/page.html?page=2',
           hostp || '/dir/sub/page.html?page=2' from b
    union all select doc_id, 6, hostp || '/dir/sub/page.html?x=1',
           hostp || '/dir/sub/page.html?x=1' from b
""")
def q_link_resolve(spark, sf_dir):
    """End-to-end link-graph frontier: href mining (links_udf — the
    only Python in the plan), RFC 3986 resolution against the page URL
    (resolve_url — pure Catalyst fold, incl. dot-segment removal,
    scheme/authority/query inheritance), then canonicalization
    (normalize_url).  Map-only: the kernel returns one array per doc,
    the fan-out is a JVM-side posexplode, resolution never leaves
    codegen.  Seven href shapes per page: absolute-path, relative,
    parent-relative, protocol-relative, absolute-with-default-port,
    query-only, fragment-only."""
    from html_parser_spark.operators.urls import normalize_url, resolve_url

    did = F.col("doc_id").cast("string")
    base = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.com/dir/sub/page.html?x=1"))
    html = F.concat(
        F.lit("<p><a href='/abs/"), did, F.lit("'>a</a>"),
        F.lit("<a href='rel/"), F.col("lang"), F.lit("'>r</a>"),
        F.lit("<a href='../up'>u</a>"),
        F.lit("<a href='//cdn.example.com/"), F.col("source"), F.lit("'>c</a>"),
        F.lit("<a href='https://Other.COM:443/x?id="), did, F.lit("#f'>o</a>"),
        F.lit("<a href='?page=2'>q</a>"),
        F.lit("<a href='#top'>t</a></p>"),
    )
    df = (_docs(spark, sf_dir)
          .withColumn("html", html).withColumn("base", base))
    links = html_ops.links_udf("a[href]", ("href",))(F.col("html"))
    out = (df.select("doc_id", "base",
                     F.posexplode(links).alias("pos", "link"))
           .withColumn("url_abs",
                       resolve_url(F.col("base"), F.col("link.url")))
           .withColumn("url_norm", normalize_url(F.col("url_abs"))))
    return out.select("doc_id", "pos", "url_abs", "url_norm")


# dedup exactness: the doubled stream must aggregate back to the
# plain batch aggregate over the ORIGINAL events
@gated("""
    select event_type,
           count(*) as n_events,
           cast(count(distinct event_id) as bigint) as n_ids,
           cast(sum(cast(value as decimal(20,6))) as varchar) as sum_value
    from events
    group by event_type
""")
def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup under the driver gate: the events table is
    staged TWICE (every row a duplicate pair, copies landing in
    different files → different micro-batches), streamed at 2
    files/trigger, deduped by dropDuplicatesWithinWatermark(event_id)
    with a delay covering the corpus span (state = one row per key
    inside the horizon — the unbounded-stream shape), drained append-
    mode into the exactly-once parquet file sink.  The oracle is the
    plain batch aggregate over the ORIGINAL events — equality proves
    no duplicate survived and no event was lost across batches."""
    import shutil
    import tempfile

    from html_parser_spark.streaming.stream import (
        dedup_events_stream, read_events_stream, run_append_to_parquet,
    )

    d = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        e.repartition(4).write.mode("overwrite").parquet(f"{d}/in")
        e.repartition(4).write.mode("append").parquet(f"{d}/in")
        stream = read_events_stream(spark, f"{d}/in", max_files_per_trigger=2)
        deduped = dedup_events_stream(stream)
        run_append_to_parquet(deduped, f"{d}/out", f"{d}/ckpt")
        out = (
            spark.read.parquet(f"{d}/out")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_id").cast("long").alias("n_ids"),
                F.sum(F.col("value").cast("decimal(20,6)")).cast("string").alias("sum_value"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction pipeline over sf0.001 transcripts."""
    t = transcripts_from_documents(spark, "/root/testdata/sf0.001", n_convs=N_CONVS)
    from html_parser_spark.plans.pipeline import extract_turns

    out = extract_turns(t.drop("doc_id", "expected_main_text"))
    return out.select("conv_id", "turn_idx", "role", "main_text", "n_nodes", "n_removed")


def sampling_order(evidence_dir: Path) -> list[str]:
    """Registered query names, least recently driver-verified first.

    Evidence is every ``CORRECTNESS_r<round>.json`` in ``evidence_dir``;
    a record is green only when rows, schema and hash all match and
    ``err`` is null.  Names sort by their newest green round (never
    green = 0), oldest first, stable on registration order — the
    driver samples the head of ``queries()``, so the stalest evidence
    is re-checked first.  A malformed evidence file raises.
    """
    newest: dict[str, int] = {}
    for path in evidence_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, rec in json.loads(path.read_text()).items():
            if (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
                    and rec["err"] is None):
                newest[name] = max(newest.get(name, 0), rnd)
    return sorted(_GATED, key=lambda name: newest.get(name, 0))


def queries() -> dict[str, Query]:
    """Every gated query, in ``sampling_order`` of this file's evidence."""
    return {name: _GATED[name][0]
            for name in sampling_order(Path(__file__).resolve().parent)}


def oracle_sql() -> dict[str, str]:
    """Every gated query's DuckDB twin, in registration order."""
    return {name: sql for name, (_, sql) in _GATED.items()}

