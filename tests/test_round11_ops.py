"""Round-11 hardening pins.

- ADVICE r10 #1: the exact-Spearman scale arm must never BROADCAST its
  rank maps — their cardinality is distinct (flag, value), data-dependent
  and near-fact-scale on genuine continuous domains (the same
  derived-table-broadcast hazard class fixed in
  graph_degree_assortativity at sf100). Round 11 pinned both rank-map
  joins to sort-merge; these tests pin the PLAN, not just the values.
"""

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.operators import gates

QS = em.queries()
SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spearman_scale_arm_has_no_broadcast_join(spark, monkeypatch):
    """Forced above the fact gate, the contingency arm's two rank-map
    joins must both be SortMergeJoin — zero broadcast exchanges anywhere
    in the plan, since every broadcast candidate here is a derived table
    whose size scales with the value domain."""
    monkeypatch.setitem(gates.THRESHOLDS, "fact", 0)
    plan = _executed_plan(QS["agg_spearman_rank_corr"](spark, SF))
    assert plan.count("SortMergeJoin") == 2, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_spearman_scale_arm_values_unchanged(spark, monkeypatch):
    """The merge pin is a plan choice only: forced-gate output must still
    byte-match the oracle-hashed row-level window arm."""
    base = sorted(
        tuple(r) for r in QS["agg_spearman_rank_corr"](spark, SF).collect()
    )
    monkeypatch.setitem(gates.THRESHOLDS, "fact", 0)
    gated = sorted(
        tuple(r) for r in QS["agg_spearman_rank_corr"](spark, SF).collect()
    )
    assert gated == base and len(base) > 0


def test_q21_rollup_form_has_no_semi_anti_joins(spark):
    """Round-11 sf100 find: the EXISTS/NOT-EXISTS join form chained three
    sort-merge joins into one stage (four concurrent external sorters per
    task OOM'd the 8g heap at 600M rows). The rollup rewrite must keep
    the semi/anti joins out of the plan at every scale — values are
    covered by the DuckDB oracle, which still runs the EXISTS form."""
    plan = _executed_plan(QS["q21_waiting_suppliers"](spark, SF))
    assert "LeftSemi" not in plan, plan
    assert "LeftAnti" not in plan, plan


def test_bounded_self_joins_are_hinted_broadcast(spark):
    """Round-11 sf10 scan find: three entries non-equi-join (or cross) a
    provably bounded aggregate whose Catalyst size estimate scales with
    the FACT, so above ~sf10 the planner silently degraded them from
    BroadcastNestedLoopJoin to CartesianProduct. The bounded side now
    carries an explicit broadcast hint — pin that the hint is in the
    plan at every scale (estimates must no longer decide)."""
    for name in (
        "agg_kendall_tau_binned",
        "agg_tukey_hsd",
        "agg_hodges_lehmann_shift",
    ):
        plan = _executed_plan(QS[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name


def test_skyline_bucketed_window_identity(spark):
    """The price-bucketed skyline (per-bucket window + cross-bucket
    prefix-min floor) must reproduce the single global window's rows
    exactly — bucketing is a parallelism choice, never semantics."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    got = sorted(
        tuple(r)
        for r in QS["orders_skyline_pareto_front"](spark, SF).collect()
    )
    o = spark.read.parquet(f"{SF}/orders.parquet")
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    pts = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice", "o_orderdate")
        .agg(
            F.datediff(
                F.date_trunc("day", F.max("l_shipdate")).cast("date"),
                F.date_trunc("day", F.col("o_orderdate")).cast("date"),
            ).alias("days")
        )
        .filter(F.col("days") > 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            "days",
        )
    )
    w = Window.orderBy("price", "days", "k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = pts.withColumn("best_prev", F.min("days").over(w))
    want = sorted(
        tuple(r)
        for r in ranked.filter(
            F.col("best_prev").isNull()
            | (F.col("days") < F.col("best_prev"))
        )
        .select(
            F.col("k").alias("o_orderkey"),
            F.round("price", 2).alias("price"),
            F.col("days").cast("long").alias("days_to_ship"),
        )
        .collect()
    )
    assert got == want and len(got) > 0


def test_skyline_has_no_global_fact_window(spark):
    """Plan pin: the only unpartitioned window may run over the bucket
    summary (1000 rows) — the fact-grain window must carry the bkt
    partition key."""
    plan = _executed_plan(QS["orders_skyline_pareto_front"](spark, SF))
    import re

    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    # every Window spec list: partition cols appear before the ordering;
    # the fact window must mention bkt partitioning
    assert any("bkt" in w for w in wins), plan


def test_abc_xyz_has_no_global_fact_window(spark):
    """parts_abc_xyz's cumulative-revenue window must carry the bkt
    partition key (the DuckDB oracle still runs the single global-window
    SQL, so values are pinned there; this pins the PLAN)."""
    import re

    plan = _executed_plan(QS["parts_abc_xyz_classification"](spark, SF))
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert any("bkt" in w for w in wins), plan
