"""tools/plan_capture.py compares plans, not the ids a build happens to draw."""

import pytest

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.operators import cache_scope
from tools.plan_capture import _formatted, masked, same_plan


@pytest.mark.parametrize("name", ["q1_pricing_summary", "text_heaps_law_fit"])
def test_same_entry_built_twice_is_the_same_plan(spark, sf_smoke, name):
    q = em.queries()[name]
    with cache_scope():
        first = _formatted(q(spark, sf_smoke))
        second = _formatted(q(spark, sf_smoke))
    assert first != second  # fresh expression ids on every build
    assert same_plan(first, second)


@pytest.mark.parametrize(
    "a,b",
    [
        # codegen stage ids, formatted details and simple-mode tree
        ("(11) BroadcastHashJoin [codegen id : 2]",
         "(11) BroadcastHashJoin [codegen id : 5]"),
        ("+- *(3) Project [v#12]", "+- *(1) Project [v#40]"),
        # AQE query-stage ids, formatted details and simple-mode tree
        ("(10) BroadcastQueryStage\nOutput [2]: [c_custkey#4535L, x#9]\n"
         "Arguments: 0\n",
         "(10) BroadcastQueryStage\nOutput [2]: [c_custkey#17L, x#3]\n"
         "Arguments: 3\n"),
        ("(15) ShuffleQueryStage\nOutput [1]: [v#4542]\nArguments: 1\n",
         "(15) ShuffleQueryStage\nOutput [1]: [v#8]\nArguments: 4\n"),
        ("+- ShuffleQueryStage 0", "+- ShuffleQueryStage 2"),
    ],
)
def test_masked_ignores_execution_order_ids(a, b):
    assert a != b and same_plan(a, b)


@pytest.mark.parametrize(
    "a,b",
    [
        # the operator numbers of the formatted tree are the plan's shape
        ("+- ShuffleQueryStage (15)", "+- ShuffleQueryStage (16)"),
        ("+- * HashAggregate (4)", "+- * Project (4)"),
        ("(3) Filter\nArguments: 1\n", "(3) Filter\nArguments: 2\n"),
    ],
)
def test_masked_keeps_plan_differences(a, b):
    assert masked(a) != masked(b)
