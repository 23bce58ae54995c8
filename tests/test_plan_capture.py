"""tools/plan_capture.py compares plans, not the ids a build happens to draw."""

import pytest

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.operators import cache_scope
from tools.plan_capture import _formatted, same_plan


@pytest.mark.parametrize("name", ["q1_pricing_summary", "text_heaps_law_fit"])
def test_same_entry_built_twice_is_the_same_plan(spark, sf_smoke, name):
    q = em.queries()[name]
    with cache_scope():
        first = _formatted(q(spark, sf_smoke))
        second = _formatted(q(spark, sf_smoke))
    assert first != second  # fresh expression ids on every build
    assert same_plan(first, second)
