"""Round-12 hardening pins.

- Verdict r11 #1/#2: q21's rollup rewrite was still unsafe at sf100 — the
  `lines` frame fed two consumers, so lineitem was scanned twice and both
  sort-merge joins, four hash-agg levels and the qualifying join fused
  into ONE exchange-free pipeline (5 sorts + 3 SMJ buffers per task →
  OOM at the default 8g heap). The fix persists `lines` above the fact
  gate; these tests pin the persist and the rebuilt sorter-pipeline
  detector that now catches the class (the round-11 detector returned 0
  for any stack under an aggregate exchange — ADVICE r11 #1 — and
  measured SMJ depth, which misses the fused depth-2 shape).
- ADVICE r11 #3: get_spark's JVM-flag default must merge with, not
  replace, caller-supplied extraJavaOptions, and must survive JDKs that
  removed the GC-locker diagnostic flag.
"""

import pyspark.sql.functions as F

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.session import (
    _DEFAULT_CONF,
    merge_conf,
)
from tools.plan_audit import SORTER_PIPELINE_MAX, _max_sorter_pipeline

QS = em.queries()
SF = "/root/testdata/sf0.001"


def _root(df):
    root = df._jdf.queryExecution().executedPlan()
    try:
        root = root.initialPlan()  # unwrap AdaptiveSparkPlan
    except Exception:  # noqa: BLE001 - non-AQE plans lack it
        pass
    return root


def _frame(spark, tag):
    return spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias(tag)
    )


def test_detector_flags_synthetic_3chain_under_groupby(spark):
    """ADVICE r11 #1 self-test: a 3-deep merge-hinted join chain under a
    groupBy on a DIFFERENT key (so an aggregate Exchange sits above the
    stack — the exact shape that made the old depth detector return 0)
    must score well over the gate: same-key joins reuse one partitioning,
    so all four sorts and three SMJ buffers share one task pipeline."""
    j = (
        _frame(spark, "a")
        .hint("merge")
        .join(_frame(spark, "b").hint("merge"), "k")
        .join(_frame(spark, "c").hint("merge"), "k")
        .join(_frame(spark, "d").hint("merge"), "k")
    )
    agg = j.groupBy((F.col("k") % 7).alias("g")).count()
    sorters = _max_sorter_pipeline(_root(agg))
    assert sorters > SORTER_PIPELINE_MAX, sorters
    assert sorters >= 7, sorters  # 4 sorts + 3 SMJs in one region


def test_detector_plain_smj_is_the_safe_baseline(spark):
    """A single shuffled sort-merge join (Sort + Sort + SMJ = 3) is the
    ubiquitous safe footprint and must sit exactly AT the gate, not over
    it — otherwise every shuffled join in the registry would flag."""
    j = _frame(spark, "a").hint("merge").join(
        _frame(spark, "b").hint("merge"), "k"
    )
    agg = j.groupBy((F.col("k") % 7).alias("g")).count()
    sorters = _max_sorter_pipeline(_root(agg))
    assert sorters == SORTER_PIPELINE_MAX, sorters


def test_detector_resets_at_exchange_but_keeps_scanning(spark):
    """Two plain SMJs SEPARATED by a shuffle (join keys differ) are two
    independent pipelines of 3, not one of 6 — the region must reset at
    the Exchange while recursion continues below it."""
    j1 = _frame(spark, "a").hint("merge").join(
        _frame(spark, "b").hint("merge"), "k"
    )
    re_keyed = j1.select((F.col("k") % 11).alias("k2"), "a")
    j2 = re_keyed.hint("merge").join(
        spark.range(0, 11)
        .select(F.col("id").alias("k2"), F.lit(1).alias("z"))
        .hint("merge"),
        "k2",
    )
    sorters = _max_sorter_pipeline(_root(j2))
    assert sorters == SORTER_PIPELINE_MAX, sorters


def test_q21_persists_lines_and_scans_lineitem_once(spark):
    """Round-12 fix pin: the joined lineitem×orders frame is persisted,
    so BOTH consumers (the per-supplier rollup and the late-line filter)
    read the cache — the plan shows two InMemoryTableScans and the fused
    double-scan pipeline can no longer form at any scale."""
    plan = QS["q21_waiting_suppliers"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan
    sorters = _max_sorter_pipeline(_root(QS["q21_waiting_suppliers"](spark, SF)))
    assert sorters <= SORTER_PIPELINE_MAX, sorters


def test_merge_conf_appends_caller_jvm_flags():
    got = merge_conf({"spark.driver.extraJavaOptions": "-Xlog:gc"})
    jvm = got["spark.driver.extraJavaOptions"]
    assert jvm.startswith("-XX:+IgnoreUnrecognizedVMOptions"), jvm
    assert "GCLockerRetryAllocationCount" in jvm, jvm
    assert jvm.endswith("-Xlog:gc"), jvm


def test_merge_conf_caller_overrides_scalar_keys():
    got = merge_conf({"spark.sql.shuffle.partitions": "7"})
    assert got["spark.sql.shuffle.partitions"] == "7"
    assert got["spark.sql.session.timeZone"] == "UTC"


def test_merge_conf_defaults_unchanged_without_extra():
    assert merge_conf(None) == _DEFAULT_CONF
    assert merge_conf({}) == _DEFAULT_CONF


def test_default_jvm_flags_tolerate_unknown_options():
    """The GC-locker retry flag was removed on newer JDKs; with
    +UnlockDiagnosticVMOptions an unknown option ABORTS JVM startup
    unless IgnoreUnrecognizedVMOptions comes first (ADVICE r11 #3)."""
    jvm = _DEFAULT_CONF["spark.driver.extraJavaOptions"].split()
    assert jvm[0] == "-XX:+IgnoreUnrecognizedVMOptions", jvm


def test_time_sweep_env_stamp_is_adjudicable(spark):
    """Verdict r11 #3: every sweep artifact must carry the effective
    driver memory, the JVM flags, and the box load — the q21 111 s-vs-OOM
    dispute was unresolvable because the heap the sweep ran under was
    invisible in the JSON."""
    from tools.time_sweep import _env_stamp

    env = _env_stamp(spark, [0.1, 0.2, 0.3])
    assert env["spark.driver.memory"] not in (None, ""), env
    assert "extraJavaOptions" in " ".join(env)
    assert env["load"]["before"] == [0.1, 0.2, 0.3]
    assert isinstance(env["load"]["after"], list)
    assert env["master"].startswith("local["), env


# ---------------------------------------------------------------------------
# Round-12 tail-sweep defect class: estimate-forced broadcast of a raw
# scaling-dimension scan (feature_loo_target_encoding / agg_cramers_v at
# sf100 — the column-pruned 15M-row customer scan estimated under the
# 64 MB threshold and the BroadcastExchange build OOM'd at 8g).
# ---------------------------------------------------------------------------


def _raw_bcast(df, table_rows):
    from tools.plan_audit import _broadcast_raw_scans

    return sorted(set(_broadcast_raw_scans(_root(df), table_rows)))


def test_bcast_detector_flags_raw_big_table_broadcast(spark):
    """A broadcast-hinted RAW parquet scan of a table measured above the
    bound must flag — this is the exact pre-fix loo/cramers shape."""
    o = em.QUERIES["q1_pricing_summary"]  # noqa: F841 - registry warm
    c = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    j = orders.join(F.broadcast(c), orders.o_custkey == c.c_custkey)
    got = _raw_bcast(j.select("o_orderkey"), {"customer": 15_000_000})
    assert got == ["customer"], got


def test_bcast_detector_accepts_aggregated_frame(spark):
    """A broadcast frame REDUCED by an aggregate before the exchange is a
    bounded model (seg_stats / marginals), never a raw table — must not
    flag even when the underlying table is big."""
    c = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    seg = c.groupBy("c_mktsegment").count()
    j = orders.join(F.broadcast(seg), orders.o_orderpriority != seg.c_mktsegment)
    got = _raw_bcast(j.select("o_orderkey"), {"customer": 15_000_000})
    assert got == [], got


def test_bcast_detector_ignores_small_tables(spark):
    """The gate is measured-count calibrated: the same raw broadcast of a
    table BELOW the bound is the correct plan and must pass."""
    c = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    j = orders.join(F.broadcast(c), orders.o_custkey == c.c_custkey)
    got = _raw_bcast(j.select("o_orderkey"), {"customer": 1_500})
    assert got == [], got


def test_bcast_detector_sees_through_persist(spark):
    """Caching the raw table before broadcasting it must not blind the
    gate (InMemoryRelation walk — same discipline as the sorter scorer)."""
    c = spark.read.parquet(f"{SF}/customer.parquet").persist()
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        j = orders.join(F.broadcast(c), orders.o_custkey == c.c_custkey)
        got = _raw_bcast(j.select("o_orderkey"), {"customer": 15_000_000})
        assert got == ["customer"], got
    finally:
        c.unpersist()


def test_dim_pin_engages_at_sf100_counts():
    from boann_ocsf_security_data_platform_spark.operators import gates

    assert gates.over("dim", 15_000_000)  # sf100 customer
    assert not gates.over("dim", 1_500_000)  # sf10 measured safe


# ---------------------------------------------------------------------------
# Round-12 tail-sweep defect #3: q8's UNFILTERED full-fact sort-merge join
# at the session-wide 32 shuffle partitions sorted 19M rows per task at
# sf100 and the spill-merge read-ahead buffers OOM'd the default heap.
# _widen_fact_shuffle sizes the join's own shuffle by the measured count.
# ---------------------------------------------------------------------------


def test_widen_fact_shuffle_noop_below_gate(spark):
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = em._widen_fact_shuffle(l, "l_orderkey", 6_000_000)
    assert out is l  # below THRESHOLDS["fact"]: planner freedom


def test_widen_fact_shuffle_sizes_partitions_by_count(spark):
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = em._widen_fact_shuffle(l, "l_orderkey", 600_000_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan, plan
    assert "151" in plan, plan  # 600M // 4M + 1


def test_widen_fact_shuffle_join_reuses_partitioning(spark):
    """Widening BOTH sides with the same count must yield exactly one
    exchange per side — the sized repartition IS the join's shuffle; a
    third exchange would mean Spark re-shuffled to the session default
    and the sizing did nothing."""
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    lw = em._widen_fact_shuffle(l, "l_orderkey", 600_000_000).hint("merge")
    ow = em._widen_fact_shuffle(o, "o_orderkey", 600_000_000).hint("merge")
    j = lw.join(ow, lw.l_orderkey == ow.o_orderkey).select("l_extendedprice")
    plan = _root(j).toString()
    # merge hint pins SMJ at this tiny scale (sf100 plans it unhinted);
    # the two sized exchanges must be the ONLY hash exchanges — a third
    # would mean Spark re-shuffled to the session default
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("151") == 2, plan
    assert "SortMergeJoin" in plan, plan
