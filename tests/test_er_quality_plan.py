"""The cluster/blocking-quality family reads every metric off one
contingency relation through sort-free aggregations: no executed plan
may carry a Window node."""

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
QUALITY = (
    "blocking_quality",
    "bcubed_quality",
    "ari_quality",
    "muc_quality",
    "vmeasure_quality",
    "blanc_quality",
)


@pytest.mark.parametrize("name", QUALITY)
def test_executed_plan_has_no_window(spark, name):
    df = E.queries()[name](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "Window" not in plan, plan
