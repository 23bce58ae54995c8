"""Round-12 never-measured-tail pins (the sf100 sweep of the cheap 212).

The decade-3 sweep's final tier timed every registry entry that had
never run at 600M-row scale. The defects it caught are all the known
rank-window-funnel class at partition cardinalities the earlier tiers
missed (5-25 instead of 1-3): a Window whose partition key has a
bounded value domain serializes the whole fact through |keys| tasks.
Each fix below re-expresses the identical statistic through the
round-11 bucket decomposition (equal values share a price bucket, rank
= lower-bucket prefix + in-bucket row_number); these tests pin (a) the
row-level identity against the literal window the oracle still runs,
and (b) the plan shape (fact windows must carry the bkt partition key).
"""

import re

import pyspark.sql.functions as F
from pyspark.sql.window import Window

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.operators import gates
from boann_ocsf_security_data_platform_spark.operators.ranks import (
    grouped_percentile_cont,
)

QS = em.queries()
SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fact_windows_carry_bkt(plan: str) -> bool:
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    return any("bkt" in w for w in wins)


def test_distribution_ranks_bucketed_identity(spark):
    """The bucket-decomposed ntile/percent_rank/cume_dist must equal the
    literal PARTITION BY o_orderpriority window row-for-row: the
    (price, orderkey) order is tie-free, so rank == row_number and all
    three functions are closed-form in (r, n)."""
    got = sorted(
        tuple(r) for r in QS["window_distribution_ranks"](spark, SF).collect()
    )
    o = spark.read.parquet(f"{SF}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    want = sorted(
        tuple(r)
        for r in o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        ).collect()
    )
    assert got == want and len(got) > 0


def test_grouped_percentile_cont_matches_spark_percentile(spark):
    """grouped_percentile_cont must emit the EXACT doubles Spark's own
    Percentile aggregate produces (same straddled order statistics, same
    interpolation expression) — raw equality, no rounding slack."""
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    got = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in grouped_percentile_cont(
            l, "l_returnflag", "l_extendedprice", [(0.1, "lo"), (0.9, "hi")]
        ).collect()
    }
    want = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_cont(0.1) WITHIN GROUP"
                " (ORDER BY l_extendedprice)"
            ).alias("lo"),
            F.expr(
                "percentile_cont(0.9) WITHIN GROUP"
                " (ORDER BY l_extendedprice)"
            ).alias("hi"),
        )
        .collect()
    }
    assert got == want and len(got) == 3


_PCT_ENTRIES = (
    "agg_trimmed_winsorized",
    "agg_brown_forsythe_test",
    "agg_median_countif_bool",
    "events_mad_anomalies",
    "feature_psi_drift",
)


def test_percentile_users_avoid_concentrated_aggregate(spark, monkeypatch):
    """Plan pin, gate FORCED: above the fact gate the exact-percentile
    entries must not plan Spark's Percentile aggregate anywhere (its
    per-group value-count map merges onto one reducer — the
    concentration class); the helper computes the identical doubles
    from distributed domain counts. Below the gate (round-12 bench
    regression find: the distributed form is ~4x slower at sf0.1) the
    single-pass ordered-set aggregate is the measured-bounded arm.
    agg_percentile_disc_cont stays literal by design: the entry's
    surface IS the ordered-set aggregate family (documented sf100
    passer, bounded on the replicated bench domains)."""
    monkeypatch.setitem(gates.THRESHOLDS, "fact", 0)
    for name in _PCT_ENTRIES:
        plan = _executed_plan(QS[name](spark, SF))
        assert "percentile" not in plan.lower(), (name, plan[:2000])


def test_percentile_gate_arms_identical(spark, monkeypatch):
    """Forced-gate identity: every concentration-gated percentile entry
    must produce row-identical output from BOTH arms on the same data —
    the native single-pass aggregate (what the oracle pins at gate
    scale) and the distributed domain-count form (what runs at sf100).
    ADVICE r12 #3: the native baseline is FORCED (gate pinned huge), not
    left to the real gate — if the fixture ever outgrew
    THRESHOLDS["fact"] the test would otherwise silently compare
    distributed vs distributed."""
    import sys

    monkeypatch.setitem(gates.THRESHOLDS, "fact", sys.maxsize)
    native = {
        n: sorted(tuple(r) for r in QS[n](spark, SF).collect())
        for n in _PCT_ENTRIES
    }
    monkeypatch.setitem(gates.THRESHOLDS, "fact", 0)
    for n in _PCT_ENTRIES:
        forced = sorted(tuple(r) for r in QS[n](spark, SF).collect())
        assert forced == native[n] and len(forced) > 0, n


def _assert_every_window_bucketed(plan: str):
    """Every Window node must either carry bkt in its PARTITION spec
    (the fact-grain windows) or ORDER by bkt (the bounded bucket-summary
    prefix windows)."""
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert wins, plan
    for part, order in wins:
        assert "bkt" in part or order.startswith("bkt"), (part, order)


def test_pareto_abc_bucketed_identity_and_plan(spark):
    """agg_pareto_abc's bucketed prefix sum must reproduce the literal
    global running-sum classes, and its plan must carry no unbucketed
    window (the 15M-row customer rollup sorted in ONE task at sf100)."""
    got = sorted(tuple(r) for r in QS["agg_pareto_abc"](spark, SF).collect())
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    wcum = Window.orderBy(
        F.col("rev").desc(), F.col("o_custkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.partitionBy()
    share = (F.sum("rev").over(wcum) - F.col("rev")) / F.sum("rev").over(
        wtot
    )
    want = sorted(
        tuple(r)
        for r in c.withColumn(
            "klass",
            F.when(share < 0.8, "A").when(share < 0.95, "B").otherwise("C"),
        )
        .groupBy("klass")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
        .collect()
    )
    assert got == want and len(got) > 0
    _assert_every_window_bucketed(
        _executed_plan(QS["agg_pareto_abc"](spark, SF))
    )


def test_gini_and_abc_migration_windows_bucketed(spark):
    """Plan pins for the other two round-12 funnel fixes (their values
    stay pinned by the DuckDB oracle, which runs the literal window
    SQL)."""
    for name in ("agg_gini_coefficient", "orders_abc_migration"):
        _assert_every_window_bucketed(_executed_plan(QS[name](spark, SF)))


def test_scalar_null_semantics_has_no_window(spark):
    """The whole-frame scalar must ride a broadcast aggregate — a
    literal count(...) OVER () repartitions the full order fact to one
    task."""
    plan = _executed_plan(QS["scalar_null_semantics"](spark, SF))
    assert "Window" not in plan, plan[:2000]


def test_theta_count_decomposition_identity(spark):
    """The order-statistics form of join_theta_inequality must equal the
    literal theta join it replaced (which materialized every qualifying
    pair — quadratic per nation at scale): same nations, same counts."""
    got = sorted(
        tuple(r) for r in QS["join_theta_inequality"](spark, SF).collect()
    )
    c = spark.read.parquet(f"{SF}/customer.parquet")
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    want = sorted(
        tuple(r)
        for r in c.join(
            s,
            (c.c_nationkey == s.s_nationkey)
            & (c.c_acctbal > s.s_acctbal),
        )
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .collect()
    )
    assert got == want and len(got) > 0


def test_theta_count_plan_has_no_pair_join(spark):
    """Plan pin: no join in the decomposed form may carry the inequality
    — every join is an equi-join on (nation, balance) domain rows or the
    25-row nation broadcast."""
    plan = _executed_plan(QS["join_theta_inequality"](spark, SF))
    assert "acctbal > " not in plan and "acctbal < " not in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_distribution_ranks_no_low_cardinality_fact_window(spark):
    """Plan pin: every fact-grain window must carry the bkt partition
    key — PARTITION BY o_orderpriority alone is the cardinality-5
    funnel (five tasks sort the whole order fact, 144 s at sf100)."""
    plan = _executed_plan(QS["window_distribution_ranks"](spark, SF))
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert wins, plan
    for part, order in wins:
        # fact windows carry bkt in the PARTITION spec; the only windows
        # allowed without it are the bucket-summary prefix windows,
        # which ORDER by bkt over a bounded aggregate
        assert "bkt" in part or order.startswith("bkt"), (part, order)
    assert any("bkt" in part for part, _ in wins), plan
