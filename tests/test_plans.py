"""Physical-plan regression tests: the scale-critical plan properties
(PLANS.md is the full audit; these pin the load-bearing ones so a
refactor that silently loses them fails CI)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain("codegen")
    return buf.getvalue()


def test_extraction_has_no_exchange_before_kernel(spark, sf_dir):
    """Map-only extraction: the Python kernel must consume scan output
    directly (the single most important plan property at 100 TB)."""
    from html_parser_spark.plans.pipeline import PipelineConfig, extract_turns
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=20)
    p = plan_of(extract_turns(t.drop("doc_id", "expected_main_text"),
                              PipelineConfig()))
    assert "ArrowEvalPython" in p
    tree = p.split("== Physical Plan ==")[1].splitlines()
    idx = {}
    for i, ln in enumerate(tree):
        for key in ("ArrowEvalPython", "Exchange", "Scan parquet"):
            if key in ln and key not in idx:
                idx[key] = i
    assert "ArrowEvalPython" in idx and "Scan parquet" in idx
    # formatted tree lists operators top-down: any Exchange between the
    # kernel and its scan means a shuffle feeds the kernel
    if "Exchange" in idx:
        assert not (idx["ArrowEvalPython"] < idx["Exchange"] < idx["Scan parquet"])


def test_salted_extraction_runs_kernel_once(spark, sf_dir):
    """The opt-in salted plan: exactly one kernel pass, fed by exactly
    one Exchange (the (bucket, salt) shuffle) over the scan."""
    from html_parser_spark.plans.pipeline import PipelineConfig, extract_turns
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=20)
    p = plan_of(extract_turns(t.drop("doc_id", "expected_main_text"),
                              PipelineConfig(n_salts=4)))
    tree = p.split("== Physical Plan ==")[1].split("\n\n")[0].splitlines()
    arrow = [i for i, ln in enumerate(tree) if "ArrowEvalPython" in ln]
    exchange = [i for i, ln in enumerate(tree) if "Exchange" in ln]
    assert len(arrow) == 1 and len(exchange) == 1
    # the tree lists operators top-down: the Exchange sits below the kernel
    assert arrow[0] < exchange[0]


def test_dimension_joins_broadcast(spark, sf_dir):
    import __spark_entry__ as m

    p = plan_of(m.queries()["join_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    import __spark_entry__ as m

    p = plan_of(m.queries()["window_top_order"](spark, sf_dir))
    assert "PushedFilters" in p and "o_custkey" in p.split("PushedFilters")[1][:200]


def test_topk_is_take_ordered(spark, sf_dir):
    import __spark_entry__ as m

    p = plan_of(m.queries()["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_column_pruning(spark, sf_dir):
    """A two-column aggregate over lineitem must not read the wide
    comment column."""
    import __spark_entry__ as m

    p = plan_of(m.queries()["tpch_pricing_summary"](spark, sf_dir))
    assert "l_comment" not in p


def test_ivf_batch_topk_runs_each_udf_once(spark, sf_dir):
    """Batched IVF search: one Arrow pass for the corpus assign UDF and
    one for the query probe UDF; the join on ``cell`` must not re-run
    assign through an inferred ``cell IS NOT NULL`` filter."""
    import __spark_entry__ as m
    from tools.explain_plans import _single_arrow_pass

    p = plan_of(m.queries()["ann_ivf_batch_topk"](spark, sf_dir))
    assert _single_arrow_pass(p, n_udfs=2)
