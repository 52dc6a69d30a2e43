"""Physical-plan audit: captures ``explain("formatted")`` for the
headline queries and checks the plan properties that matter at 100 TB.

Checks per query (recorded in PLANS.md):

* **column pruning** — the parquet scan's ReadSchema contains only the
  columns the query needs;
* **predicate pushdown** — filters appear as PushedFilters at the scan;
* **broadcast joins** — dimension joins use BroadcastHashJoin, never
  SortMergeJoin on a small side;
* **whole-stage codegen** — JVM-side expressions run inside
  WholeStageCodegen spans;
* **no input shuffle for extraction** — the extraction job has no
  Exchange before ArrowEvalPython.

Usage::

    python tools/explain_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        # AQE shows codegen subtrees only in "codegen" mode pre-execution.
        df.explain("codegen")
    return buf.getvalue()


def plan_frame(spark, name: str, sf_dir: str):
    """The frame whose plan ``CHECKS[name]`` audits: the gated query of
    that name, or for ``extract_pipeline`` the extraction plan over
    transcripts built from the documents table."""
    if name == "extract_pipeline":
        from html_parser_spark.plans.pipeline import extract_turns
        from html_parser_spark.sources.transcripts import transcripts_from_documents

        t = transcripts_from_documents(spark, sf_dir, n_convs=50)
        return extract_turns(t.drop("doc_id", "expected_main_text"))
    import __spark_entry__ as m

    return m.queries()[name](spark, sf_dir)


CHECKS = {
    "tpch_pricing_summary": {
        "pruned_scan": lambda p: re.search(r"ReadSchema:[^\n]*l_returnflag", p)
        and "l_comment" not in p,
        "partial_agg": lambda p: "partial_" in p or "HashAggregate" in p,
        "codegen": lambda p: "WholeStageCodegen" in p or "Found" in p,
    },
    "join_region_revenue": {
        "broadcast_join": lambda p: "BroadcastHashJoin" in p,
        "no_sort_merge": lambda p: "SortMergeJoin" not in p,
        "pruned_scan": lambda p: "o_comment" not in p,
    },
    "window_top_order": {
        "pushed_filter": lambda p: re.search(r"PushedFilters:[^\n]*o_custkey", p),
        "single_window": lambda p: p.count("Window") >= 1,
    },
    "topk_orders": {
        "takeordered": lambda p: "TakeOrderedAndProject" in p,
        "pruned_scan": lambda p: re.search(r"ReadSchema:[^\n]*o_totalprice", p)
        and "o_comment" not in p,
    },
    "dedup_exact_stats": {
        "partial_agg": lambda p: "HashAggregate" in p,
        "pruned_scan": lambda p: re.search(r"ReadSchema:[^\n]*text", p),
    },
    "events_hourly": {
        "partial_agg": lambda p: "HashAggregate" in p,
        "codegen": lambda p: "WholeStageCodegen" in p or "Found" in p,
    },
    "extract_pipeline": {
        "no_exchange_before_kernel": lambda p: _no_exchange_before_arrow(p),
        "arrow_eval": lambda p: "ArrowEvalPython" in p,
        "pruned_scan": lambda p: "expected_main_text" not in p,
        # a filter on the kernel output inside extract_turns would be
        # pushed under the projection and evaluate the kernel twice
        "single_arrow_pass": lambda p: _single_arrow_pass(p),
    },
    "ann_cosine_topk": {
        "takeordered": lambda p: "TakeOrderedAndProject" in p,
        "pushed_filter": lambda p: re.search(r"PushedFilters:[^\n]*vec_id", p),
    },
    # scale-path near-dup joins: banded equi-joins, never a cross join
    "embedding_neardup": {
        "equi_join": lambda p: "Join" in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "pushed_filter": lambda p: re.search(r"PushedFilters:[^\n]*vec_id", p),
        # plane signs are a driver-precomputed literal matrix — zero
        # per-row md5 evaluations in the signature expressions
        "no_per_row_plane_md5": lambda p: "md5" not in p.lower(),
    },
    "simhash_banded_pairs": {
        "equi_join": lambda p: "Join" in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "partial_agg": lambda p: "HashAggregate" in p,
    },
    "contamination_check": {
        # benchmark n-gram set must broadcast — a shuffle join here
        # would reshuffle the exploded corpus at 10^9+ docs.  The outer
        # id join broadcasts too, so require NO SortMergeJoin anywhere
        # (a 'BroadcastHashJoin in p' check alone would stay green if
        # the gram semi-join regressed to sort-merge).
        "broadcast_join": lambda p: "BroadcastHashJoin" in p,
        "no_sort_merge": lambda p: "SortMergeJoin" not in p,
        "partial_agg": lambda p: "HashAggregate" in p,
        "pushed_filter": lambda p: re.search(r"PushedFilters:[^\n]*doc_id", p),
    },
    "repetition_stats": {
        "partial_agg": lambda p: "HashAggregate" in p,
        "pushed_filter": lambda p: re.search(r"PushedFilters:[^\n]*doc_id", p),
        "no_cartesian": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
    },
    "pdf_extract": {
        "no_exchange_before_kernel": lambda p: _no_exchange_before_arrow(p),
        "arrow_eval": lambda p: "ArrowEvalPython" in p,
        "pruned_scan": lambda p: re.search(r"ReadSchema:[^\n]*text", p),
        # synth + extract, chained into one Arrow pass
        "single_arrow_pass": lambda p: _single_arrow_pass(p, n_udfs=2),
    },
    # document kernels over binary payloads run on ``doc_udf``: one
    # Arrow UDF, never a ``mapInPandas`` row loop
    "multimodal_real_decode": {
        "single_arrow_pass": lambda p: _single_arrow_pass(p),
        "no_map_in_pandas": lambda p: "MapInPandas" not in p,
    },
    "media_probe": {
        "single_arrow_pass": lambda p: _single_arrow_pass(p),
        "no_map_in_pandas": lambda p: "MapInPandas" not in p,
    },
    "ann_ivf_topk": {
        "takeordered": lambda p: "TakeOrderedAndProject" in p,
        # cell-assignment is one Arrow-batched argmax, not a
        # num_cells-deep greatest() expression nest
        "arrow_assign": lambda p: "ArrowEvalPython" in p,
        "no_greatest_nest": lambda p: p.count("greatest") == 0,
    },
    # temporal operators: union-and-window as-of join and gap
    # sessionization must be single-shuffle, join-operator-free plans
    "asof_join_events": {
        # formatted mode prints each exchange as a "(N) Exchange"
        # detail header; count those, not the simple-mode string
        "single_exchange": lambda p:
            len(re.findall(r"\n\(\d+\) Exchange", p)) == 1,
        "no_join_operator": lambda p: "Join" not in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p,
        "pushed_filter": lambda p: re.search(
            r"PushedFilters:[^\n]*event_type", p),
    },
    "sessionize_events": {
        # the (user, session) aggregate reuses the window's hash(user)
        # partitioning — no second exchange
        "single_exchange": lambda p:
            len(re.findall(r"\n\(\d+\) Exchange", p)) == 1,
        "partial_agg": lambda p: "HashAggregate" in p,
        "no_join_operator": lambda p: "Join" not in p,
    },
    # corpus prep: hash split must be map-only; packing one exchange
    "corpus_split_assign": {
        "map_only": lambda p:
            not re.findall(r"\n\(\d+\) Exchange", p),
        "pruned_scan": lambda p: re.search(r"ReadSchema:[^\n]*doc_id", p)
        and "\"text\"" not in p,
    },
    "pack_sequences": {
        "single_exchange": lambda p:
            len(re.findall(r"\n\(\d+\) Exchange", p)) == 1,
        "no_join_operator": lambda p: "Join" not in p,
    },
    # PII scrub: per-row JVM regex — must stay map-only with a
    # two-column scan (lang/source/n_chars never read)
    "pii_scrub": {
        "map_only": lambda p:
            not re.findall(r"\n\(\d+\) Exchange", p),
        "pruned_scan": lambda p:
            re.search(r"ReadSchema:[^\n]*text", p) and "n_chars" not in p,
        "codegen": lambda p: "WholeStageCodegen" in p or "Found" in p,
    },
    # hash sampling: a scalar hash compare — map-only, no shuffle
    "hash_sample": {
        "map_only": lambda p:
            not re.findall(r"\n\(\d+\) Exchange", p),
        "pruned_scan": lambda p:
            re.search(r"ReadSchema:[^\n]*lang", p) and "n_chars" not in p,
    },
    # quota sampling: rank filter must push down as a partial
    # WindowGroupLimit BEFORE the stratum exchange, so a hot stratum
    # ships at most n rows per input partition
    "stratified_quota": {
        "single_exchange": lambda p:
            len(re.findall(r"\n\(\d+\) Exchange", p)) == 1,
        "window_group_limit_before_exchange": lambda p:
            _window_group_limit_before_exchange(p),
        "no_join_operator": lambda p: "Join" not in p,
    },
    # incremental dedup: internal first-per-hash window gets the same
    # group-limit pushdown (rn=1 ⇒ ≤1 row per hash per partition
    # before the shuffle); history probe is a hash anti-join (AQE
    # picks broadcast at test size), never a cartesian
    "incremental_dedup": {
        "anti_join": lambda p: "LeftAnti" in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "window_group_limit_before_exchange": lambda p:
            _window_group_limit_before_exchange(p),
        "pruned_scan": lambda p: "n_chars" not in p,
    },
    # unigram NLL: token frequencies aggregate map-side (partial);
    # scalar totals ride a broadcast 1-row join, never a cartesian
    # over data rows
    "unigram_nll": {
        "partial_agg": lambda p: "HashAggregate" in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p,
        "pruned_scan": lambda p: "n_chars" not in p,
    },
    # BM25: query-term postings only (filter before tf agg), df/stats
    # broadcast, top-k as TakeOrdered — no global sort, no SMJ
    "bm25_topk": {
        "takeordered": lambda p: "TakeOrderedAndProject" in p,
        "broadcast_join": lambda p: "BroadcastHashJoin" in p,
        "no_sort_merge": lambda p: "SortMergeJoin" not in p,
        "partial_agg": lambda p: "HashAggregate" in p,
    },
    # chunking: pure row expansion in the scan projection
    "chunk_documents": {
        "map_only": lambda p:
            not re.findall(r"\n\(\d+\) Exchange", p),
        "no_join_operator": lambda p: "Join" not in p,
        "pruned_scan": lambda p: "n_chars" not in p,
    },
    # RRF fusion: two k-row windows + a full outer join of k-row
    # frames — no sort-merge machinery, no cartesian over data rows
    "hybrid_rrf": {
        "no_cartesian": lambda p: "CartesianProduct" not in p,
        "partial_agg": lambda p: "HashAggregate" in p,
        "takeordered_or_sorted_limit": lambda p:
            "TakeOrderedAndProject" in p or "GlobalLimit" in p,
    },
    # PageRank: the checkpointed loop must keep the plan O(1) in the
    # iteration count — after 8 iterations with checkpoint_every=4
    # the final plan hangs off a scan of the last checkpoint, not a
    # 8-deep join tree
    "pagerank_links": {
        # with checkpoint_every=4 and n_iter=8 the final plan hangs
        # off the last checkpoint scan — an 8-iteration join tree in
        # the plan would mean lineage truncation broke.  (The
        # per-iteration HashAggregate lives inside the checkpointed
        # lineage, so no agg check applies to the visible plan.)
        "lineage_truncated": lambda p:
            "ExistingRDD" in p or "Scan ExistingRDD" in p,
        "no_iteration_join_tree": lambda p: p.count("Join") < 8,
        "no_cartesian": lambda p: "CartesianProduct" not in p,
    },
    # per-stratum quantile floors: thresholds (one row per stratum)
    # broadcast back — the corpus side never sort-merge shuffles for
    # the join
    "quantile_floor": {
        "broadcast_join": lambda p: "BroadcastHashJoin" in p,
        "no_sort_merge": lambda p: "SortMergeJoin" not in p,
        "partial_agg": lambda p: "HashAggregate" in p
        or "ObjectHashAggregate" in p or "SortAggregate" in p,
    },
    # round-5 additions: markdown rendering is a map-only kernel pass;
    # URL canonicalization must stay entirely JVM-side
    "html_to_markdown": {
        "no_exchange_before_kernel": lambda p: _no_exchange_before_arrow(p),
        "arrow_eval": lambda p: "ArrowEvalPython" in p,
        "pruned_scan": lambda p: re.search(r"ReadSchema:[^\n]*text", p),
    },
    # structured table extraction: kernel runs once per doc (array
    # return), the cell fan-out is a JVM-side explode (Generate), and
    # the whole query is map-only — no shuffle anywhere
    "html_table_cells": {
        "no_exchange_before_kernel": lambda p: _no_exchange_before_arrow(p),
        "map_only": lambda p: "Exchange" not in p,
        "arrow_eval": lambda p: "ArrowEvalPython" in p,
        "jvm_explode": lambda p: "Generate" in p,
    },
    "url_normalize": {
        # zero Python nodes: parse_url/filter/array_join are all
        # codegen'd Catalyst expressions
        "jvm_only": lambda p: "Python" not in p,
        "map_only": lambda p: "Exchange" not in p,
        "codegen": lambda p: "WholeStageCodegen" in p or "Found" in p,
    },
    # language-mix segmentation: one Arrow block pass + two keyed
    # aggregations, no joins
    "language_mix": {
        "arrow_eval": lambda p: "ArrowEvalPython" in p
        and "BatchEvalPython" not in p,
        "partial_agg": lambda p: "HashAggregate" in p
        or "ObjectHashAggregate" in p,
        "no_join": lambda p: "Join" not in p,
        "no_single_partition": lambda p: "SinglePartition" not in p,
    },
    # bigram LM scorer: pure JVM (arrays_zip pairs), partial
    # aggregation for the pair model, no unkeyed data-side cartesian
    # (the single broadcast 1-row V frame is the sanctioned cross join)
    "bigram_nll": {
        "jvm_only": lambda p: "Python" not in p,
        "partial_agg": lambda p: "HashAggregate" in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p,
    },
    # wrapper extraction: k fields from one parse — a single Arrow
    # struct pass, no shuffle
    "html_field_extract": {
        "no_exchange_before_kernel": lambda p: _no_exchange_before_arrow(p),
        "map_only": lambda p: "Exchange" not in p,
        "arrow_eval": lambda p: "ArrowEvalPython" in p
        and "BatchEvalPython" not in p,
    },
    # corpus-frequency boilerplate: ONE Arrow block pass (the (host, fp)
    # doc frequency is a window over the blocks, not a self-join that
    # re-runs the kernel); aggregates partial map-side, never a
    # single-partition collapse; no cartesian shape
    "boilerplate_removal": {
        "arrow_eval": lambda p: "ArrowEvalPython" in p
        and "BatchEvalPython" not in p,
        "single_arrow_pass": lambda p: _single_arrow_pass(p),
        "partial_agg": lambda p: "HashAggregate" in p
        or "ObjectHashAggregate" in p,
        "no_single_partition": lambda p: "SinglePartition" not in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
    },
    # link-graph frontier: ONE Arrow kernel pass (href mining); RFC 3986
    # resolution + canonicalization stay Catalyst; fan-out is a JVM
    # posexplode; never a shuffle
    "link_resolve": {
        "single_arrow_pass": lambda p: _single_arrow_pass(p),
        "map_only": lambda p: "Exchange" not in p,
        "jvm_explode": lambda p: "Generate" in p,
    },
    "url_domain_stats": {
        "jvm_only": lambda p: "Python" not in p,
        "partial_agg": lambda p: "HashAggregate" in p,
        # countDistinct = two-phase expand/partial-agg, and the final
        # orderBy adds a range exchange — but the host hash aggregate
        # must still be partial on the map side (no all-to-one)
        "no_single_partition": lambda p: "SinglePartition" not in p,
    },
    "ann_ivf_batch_topk": {
        # the exploded (query, cell) side must broadcast — the indexed
        # corpus (the 10^9-vector side) never shuffles for the join
        "broadcast_join": lambda p: "BroadcastHashJoin" in p,
        "no_sort_merge": lambda p: "SortMergeJoin" not in p,
        "no_cartesian": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "arrow_probe": lambda p: "ArrowEvalPython" in p,
        # two UDFs (corpus assign, query probe), one Arrow pass each: the
        # join's inferred ``cell IS NOT NULL`` must not re-run assign
        "single_arrow_pass": lambda p: _single_arrow_pass(p, n_udfs=2),
        # rank-limit pushdown: partial per-partition top-k BEFORE the
        # query_id exchange, so the shuffle carries ≤ k rows per
        # (partition, query), not every scored candidate
        "window_group_limit_before_exchange": lambda p:
            _window_group_limit_before_exchange(p),
    },
}


def _single_arrow_pass(p: str, n_udfs: int = 1) -> bool:
    """Each of the plan's ``n_udfs`` Python UDFs is evaluated exactly
    once, in an Arrow pass, and no per-row Python.  Counted as UDF
    applications (``name(args)#id``) in the ArrowEvalPython details:
    Spark chains ``f(g(x))`` into one node that applies both."""
    args = re.findall(r"\(\d+\) ArrowEvalPython\n(?:[^\n]*\n)*?Arguments: \[([^\n]*?)\], \[", p)
    applied = sum(len(re.findall(r"\)#\d+", a)) for a in args)
    return applied == n_udfs and "BatchEvalPython" not in p


def _window_group_limit_before_exchange(p: str) -> bool:
    """The formatted tree prints downstream operators first, so the
    map-side partial WindowGroupLimit must appear BELOW (after) the
    Exchange line — i.e. there are WindowGroupLimit lines on both sides
    of the exchange."""
    tree = p.split("== Physical Plan ==")[-1].split("== ")[0]
    exch = tree.find("Exchange")
    if exch < 0:
        return False
    return ("WindowGroupLimit" in tree[:exch]
            and "WindowGroupLimit" in tree[exch:])


def _no_exchange_before_arrow(p: str) -> bool:
    """In the map-only extraction plan the Python kernel must consume
    scan output directly: no Exchange between Scan and ArrowEvalPython."""
    scan = p.find("Scan parquet")
    arrow = p.find("ArrowEvalPython")
    if scan < 0 or arrow < 0:
        return False
    # The formatted tree lists operators bottom-up per subtree; an
    # Exchange with id between them in the tree section means a shuffle
    # feeds the kernel.  Cheap proxy: the numbered tree line for
    # ArrowEvalPython must appear with Scan as a direct BatchScan child
    # chain with no Exchange line in between.
    tree = p.split("== Physical Plan ==")[-1].splitlines()
    idx_arrow = idx_scan = idx_exch = None
    for i, ln in enumerate(tree):
        if "ArrowEvalPython" in ln and idx_arrow is None:
            idx_arrow = i
        if "Scan parquet" in ln and idx_scan is None:
            idx_scan = i
        if "Exchange" in ln and idx_exch is None:
            idx_exch = i
    if idx_arrow is None or idx_scan is None:
        return False
    return idx_exch is None or not (idx_arrow < idx_exch < idx_scan)


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical-plan audit of the headline queries")
    print()
    print(f"Generated by `python tools/explain_plans.py {SF_DIR}`.")
    print("Each query lists the scale-relevant plan properties checked,")
    print("then the formatted physical plan (truncated).")
    print()

    failures = 0
    for name, checks in CHECKS.items():
        p = plan_of(plan_frame(spark, name, SF_DIR))
        print(f"## {name}")
        print()
        for cname, fn in checks.items():
            ok = bool(fn(p))
            failures += 0 if ok else 1
            print(f"- [{'x' if ok else ' '}] {cname}")
        print()
        print("```")
        print("\n".join(p.splitlines()[:60]))
        print("```")
        print()
    print(f"<!-- failures: {failures} -->")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
