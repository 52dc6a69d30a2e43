"""Physical-plan regression tests: every check of the plan audit
(``tools/explain_plans.py``, whose output is PLANS.md) runs here too, so
a refactor that silently loses a scale-critical plan property fails
CI."""

import pytest

from tools.explain_plans import CHECKS, plan_frame, plan_of


@pytest.mark.parametrize("name", list(CHECKS))
def test_plan_audit(spark, sf_dir, name):
    p = plan_of(plan_frame(spark, name, sf_dir))
    failed = [check for check, fn in CHECKS[name].items() if not fn(p)]
    assert not failed, f"{name}: {failed}"


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
