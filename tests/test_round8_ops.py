"""Round-8 operator invariant tests.

- agg_spearman_binned: the bounded-contingency Spearman must agree with
  the exact row-level entry (same n per flag; rho within the binning
  tolerance — quantity ranks are EXACT on the binned path since quantity
  is already discrete, so the only divergence is the $1000 price binning)
  and rho stays in [-1, 1].
"""

import __spark_entry__ as entrymod
from boann_ocsf_security_data_platform_spark.operators import gates

QS = entrymod.queries()


def test_spearman_binned_matches_exact(spark, sf_smoke):
    binned = {
        r.l_returnflag: r
        for r in QS["agg_spearman_binned"](spark, sf_smoke).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in QS["agg_spearman_rank_corr"](spark, sf_smoke).collect()
    }
    assert set(binned) == set(exact)
    for flag, b in binned.items():
        e = exact[flag]
        assert b.n == e.n  # contingency never drops rows
        assert -1.0 <= b.spearman_rho_binned <= 1.0
        assert b.n_price_bins >= 1
        # binned average ranks converge on the exact rho; at the fixture's
        # ~105 price bins the residual is small
        assert abs(b.spearman_rho_binned - e.spearman_rho) < 0.05, (
            flag,
            b.spearman_rho_binned,
            e.spearman_rho,
        )


def test_fuzzy_er_scale_arm_caps_blocks(spark, sf_smoke, monkeypatch):
    """r8 scale fix for join_fuzzy_entity_resolution: above the gate the
    block key widens to two tokens and the catalog side is capped per
    block. Forcing the gate to 0 exercises the scale arm on the small
    fixture: results keep the schema/invariants (dist <= 4, rank <= 3,
    per-probe ranks dense from 1) and every probe's match panel is
    bounded."""
    monkeypatch.setitem(gates.THRESHOLDS, "fuzzy_exact", 0)
    rows = QS["join_fuzzy_entity_resolution"](spark, sf_smoke).collect()
    by_probe = {}
    for r in rows:
        assert 0 <= r.dist <= 4
        assert 1 <= r.rank <= 3
        by_probe.setdefault(r.probe_key, []).append(r.rank)
    for pk, ranks in by_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), pk


def test_prefix_filter_scale_arm_subset(spark, sf_smoke, monkeypatch):
    """Above the gate dedup_prefix_filter_jaccard collapses exact
    duplicates first and emits pairs among DISTINCT texts only — so the
    scale arm's pairs are a subset of the exact arm's, every pair still
    clears the threshold, and no emitted pair joins two identical
    texts."""
    exact_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in QS["dedup_prefix_filter_jaccard"](spark, sf_smoke).collect()
    }
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 0)
    scale_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in QS["dedup_prefix_filter_jaccard"](spark, sf_smoke).collect()
    }
    assert set(scale_pairs) <= set(exact_pairs)
    for (a, b), j in scale_pairs.items():
        assert a < b and j >= 0.9


def test_semantic_dedup_scale_arm_survivors(spark, sf_smoke, monkeypatch):
    """Above the gate semantic_dedup_survivors switches to auto-tuned
    planes: survivors remain a valid dedup output — non-empty, unique
    ids drawn from the corpus. (No monotonicity claim vs the 4-plane
    arm: at the 500-row fixture auto_n_planes lands COARSER than 4
    planes, so it co-buckets more candidates and keeps fewer survivors
    — plane counts only grow past the exact arm's at real scale.)"""
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 0)
    rows = QS["semantic_dedup_survivors"](spark, sf_smoke).collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids)) > 0
    from boann_ocsf_security_data_platform_spark.sources import load_table

    corpus_ids = {
        r.vec_id
        for r in load_table(spark, sf_smoke, "embeddings")
        .select("vec_id")
        .collect()
    }
    assert set(ids) <= corpus_ids


def test_embedding_near_dup_scale_arm_pairs(spark, sf_smoke, monkeypatch):
    """Above the gate embedding_near_dup auto-tunes planes: every pair
    it emits still clears the cosine threshold with ordered ids, and
    every emitted pair is a TRUE near-dup (cosine verified — bucketing
    only decides which pairs are examined, never their scores). No
    subset claim vs the 4-plane arm: at the 500-row fixture
    auto_n_planes lands coarser than 4 planes and surfaces MORE
    candidates; plane counts only exceed the exact arm's at scale."""
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 0)
    rows = QS["embedding_near_dup"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cosine >= 0.3


def test_exact_vector_dedup(spark):
    """exact_vector_dedup keeps exactly one (min-id) row per distinct
    vector and returns rows of the input unchanged."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        exact_vector_dedup,
    )

    df = spark.createDataFrame(
        [
            (3, [1.0, 2.0], "a"),
            (1, [1.0, 2.0], "b"),  # duplicate vector, smaller id wins
            (2, [9.0, 9.0], "c"),
        ],
        "vec_id long, embedding array<double>, tag string",
    )
    rows = {r.vec_id: r.tag for r in exact_vector_dedup(df).collect()}
    assert rows == {1: "b", 2: "c"}
