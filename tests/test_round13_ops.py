"""Round-13 optimization pins.

1. join_theta_inequality's measured-size gate (r12 VERDICT #2): the
   literal broadcast theta-join below THRESHOLDS["dim"] customers, the
   order-statistics domain form above — forced-gate identity + plan pins
   for both arms.
2. Writer file sizing (r12 VERDICT #7, guide §6): the landing/staging
   writers split oversized write tasks at max_records_per_file(); the
   split never merges, so small batches keep one file per task.
3. The pareto/gini rollup persists (r12 VERDICT #6): the shared customer
   rollup materializes once instead of once per consumer branch.
"""

import glob
import sys

import pyspark.sql.functions as F

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.operators import gates

QS = em.queries()
SF = "/root/testdata/sf0.01"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _distinct_nodes(df, op: str) -> int:
    """Count DISTINCT formatted-plan node ids for ``op``. The raw plan
    string re-prints a cached InMemoryRelation's child plan at every
    consumer, so a naive substring count sees one physical operator
    several times; formatted node ids are stable per operator."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return len(set(re.findall(rf"{op} \((\d+)\)", plan)))


def test_theta_gate_arms_identical(spark, monkeypatch):
    """Forced-gate identity: the literal equi+inequality broadcast join
    (below-gate arm, the oracle's own SQL shape) and the order-statistics
    domain decomposition (above-gate arm) must produce row-identical
    per-nation pair counts. ADVICE r12 #3 discipline: BOTH arms are
    forced explicitly — the baseline never silently rides the real
    gate."""
    monkeypatch.setitem(gates.THRESHOLDS, "dim", sys.maxsize)
    literal = sorted(
        tuple(r) for r in QS["join_theta_inequality"](spark, SF).collect()
    )
    monkeypatch.setitem(gates.THRESHOLDS, "dim", 0)
    domain = sorted(
        tuple(r) for r in QS["join_theta_inequality"](spark, SF).collect()
    )
    assert literal == domain and len(literal) > 0


def test_theta_plan_shapes_per_arm(spark, monkeypatch):
    """Plan pins for the dispatch: below the gate the entry is ONE
    broadcast hash join with the inequality as its condition (no Window,
    no full-outer merge — the 0.4 s bench shape); above it the domain
    form runs its running-count Window and never materializes pairs (no
    inequality join condition anywhere)."""
    monkeypatch.setitem(gates.THRESHOLDS, "dim", sys.maxsize)
    below = _executed_plan(QS["join_theta_inequality"](spark, SF))
    assert "BroadcastHashJoin" in below and "Window" not in below, below[
        :2000
    ]
    monkeypatch.setitem(gates.THRESHOLDS, "dim", 0)
    above = _executed_plan(QS["join_theta_inequality"](spark, SF))
    assert "Window" in above, above[:2000]
    assert "c_acctbal > s_acctbal" not in above, above[:2000]


def _landing_frame(spark, n_rows: int):
    return (
        spark.range(n_rows)
        .select(
            F.col("id").cast("string").alias("finding_uid"),
            F.lit('{"severity": "Low"}').alias("raw_ocsf_json"),
        )
        .coalesce(1)  # one write task: the file count IS the split count
    )


def test_landing_write_splits_at_max_records_per_file(
    spark, tmp_path, monkeypatch
):
    """guide §6 file sizing at two scales: a write task over the
    configured row cap splits into ceil(n/cap) files; under it, one file
    per task exactly as before (the option never merges), so parity
    fixtures and small batches are untouched."""
    from boann_ocsf_security_data_platform_spark.plans.landing import land

    monkeypatch.setenv("SPARK_GRAFT_MAX_RECORDS_PER_FILE", "100")
    land(_landing_frame(spark, 250), str(tmp_path / "t_split"))
    split_files = glob.glob(f"{tmp_path}/t_split/**/*.parquet", recursive=True)
    assert len(split_files) == 3  # 100 + 100 + 50

    monkeypatch.delenv("SPARK_GRAFT_MAX_RECORDS_PER_FILE")
    land(_landing_frame(spark, 250), str(tmp_path / "t_one"))
    one_files = glob.glob(f"{tmp_path}/t_one/**/*.parquet", recursive=True)
    assert len(one_files) == 1  # 250 < 250_000 default: unchanged layout


def test_staging_write_splits_at_max_records_per_file(
    spark, tmp_path, monkeypatch
):
    from boann_ocsf_security_data_platform_spark.plans.staging import (
        write_staging,
    )

    df = (
        spark.range(120)
        .select(
            F.col("id").cast("string").alias("finding_uid"),
            F.lit("2031-03-01 00:00:00")
            .cast("timestamp")
            .alias("staging_loaded_at"),
        )
        .coalesce(1)
    )
    monkeypatch.setenv("SPARK_GRAFT_MAX_RECORDS_PER_FILE", "50")
    write_staging(df, str(tmp_path / "stg"), mode="overwrite")
    files = glob.glob(f"{tmp_path}/stg/**/*.parquet", recursive=True)
    assert len(files) == 3  # 50 + 50 + 20


def test_pareto_and_gini_persist_shared_rollup(spark):
    """The customer-revenue rollup feeds every downstream branch through
    ONE materialization (r12 VERDICT #6: unpersisted, the sketch action,
    the scalar total, the prefix table and the final aggregate each
    re-ran the orders scan + rollup)."""
    for name in ("agg_pareto_abc", "agg_gini_coefficient"):
        plan = _executed_plan(QS[name](spark, SF))
        assert "InMemoryTableScan" in plan, (name, plan[:2000])


def test_q5_gate_arms_identical(spark, monkeypatch):
    """Forced-gate identity for the q5 join reorder: the literal r11
    broadcast pipeline (below-gate arm) and the region-pushed reorder
    with widened fact shuffles (above-gate arm) must produce identical
    per-nation revenue. Inner-join reorder provably cannot move rows;
    this pins it against future edits."""
    monkeypatch.setitem(gates.THRESHOLDS, "dim", sys.maxsize)
    below = sorted(
        tuple(r) for r in QS["q5_local_supplier_volume"](spark, SF).collect()
    )
    monkeypatch.setitem(gates.THRESHOLDS, "dim", 0)
    above = sorted(
        tuple(r) for r in QS["q5_local_supplier_volume"](spark, SF).collect()
    )
    assert below == above and len(below) > 0


def test_bigram_lm_single_gram_pass(spark):
    """The round-12 plan tokenized the corpus FOUR times (the (doc,
    bigram) aggregate three times — IsNotNull inference broke subtree
    reuse — plus the vocab pass). The round-13 form persists the gram
    frame and assembles the model in gram space: exactly TWO Generate
    (explode) nodes may remain — one gram pass, one vocab pass."""
    df = QS["text_bigram_lm_score"](spark, SF)
    assert _distinct_nodes(df, "Generate") == 2
    assert "InMemoryTableScan" in _executed_plan(df)


def test_dsir_single_corpus_featurize(spark):
    """corpus_dsir_weights round-12 plan featurized (tokenize + md5 per
    gram instance) the corpus three times and the target twice; the
    per-(doc, bucket) frame and the two <=1024-row count tables now
    persist, leaving exactly one corpus featurize + one target
    featurize = two Generate nodes."""
    df = QS["corpus_dsir_weights"](spark, SF)
    assert _distinct_nodes(df, "Generate") == 2
    assert "InMemoryTableScan" in _executed_plan(df)


def test_rank_family_persists_fan_out(spark):
    """The distinct-value rank family (kruskal / conformal and their
    exclusive running sums through operators.ranks.running) persists its
    fan-out frames: unpersisted, every consumer (including the running
    sum's approxQuantile sketch ACTION) re-ran
    the fact join — agg_kruskal_wallis' executed plan held five copies
    of orders⋈customer."""
    for name in ("agg_kruskal_wallis", "agg_conformal_interval"):
        plan = _executed_plan(QS[name](spark, SF))
        assert "InMemoryTableScan" in plan, (name, plan[:2000])
