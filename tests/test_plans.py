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

