"""Round-9 fixes: ADVICE items (near-dup plane sizing from the collapsed
corpus, asof_join_union guards, ANSI-safe guarded cast) + gate mechanics."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from boann_ocsf_security_data_platform_spark.operators import gates
from boann_ocsf_security_data_platform_spark.operators import cache_scope

QS = entrymod.queries()


def test_near_dup_planes_sized_from_collapsed_count(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """Round-9 ADVICE (medium): above the gate, embedding_near_dup must size
    its LSH planes from the POST-exact_vector_dedup count, not the raw row
    count. Behavioral pin: replicate every vector 40x (ids offset so the
    original row keeps the min id) — the distinct-vector pair set the scale
    arm emits must be IDENTICAL to running on the unreplicated corpus,
    because after collapse both corpora are the same 500 vectors and must
    get the same plane count. Pre-fix, planes sized from 20k raw rows
    (9 planes vs 3) over-split the 500 distinct vectors and lose pairs."""
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 0)

    base = QS["embedding_near_dup"](spark, sf_smoke)
    base_pairs = {(r.id_a, r.id_b) for r in base.collect()}
    assert base_pairs, "fixture must produce near-dup pairs"

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    n = emb.count()
    copies = emb
    for i in range(1, 40):
        copies = copies.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
        )
    heavy_dir = tmp_path / "heavy"
    copies.write.parquet(str(heavy_dir / "embeddings.parquet"))

    heavy = QS["embedding_near_dup"](spark, str(heavy_dir))
    heavy_pairs = {(r.id_a, r.id_b) for r in heavy.collect()}
    assert heavy_pairs == base_pairs


def test_asof_join_union_rejects_payloadless_right(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        asof_join_union,
    )

    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="no payload columns"):
        asof_join_union(left, right, on="k", left_time="t", right_time="k")


def test_asof_join_union_rejects_name_collisions(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        asof_join_union,
    )

    right = spark.createDataFrame([(1, 5, 2.0)], "k int, rt int, px double")
    # left already owns the r_-prefixed output name
    left_rpx = spark.createDataFrame([(1, 10, 0.0)], "k int, t int, r_px double")
    with pytest.raises(ValueError, match="collide"):
        asof_join_union(left_rpx, right, on="k", left_time="t", right_time="rt")
    # left owns a reserved helper name
    left_helper = spark.createDataFrame(
        [(1, 10, 0)], "k int, t int, _asof_side int"
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join_union(left_helper, right, on="k", left_time="t", right_time="rt")


def test_guarded_try_cast_safe_under_ansi(spark):
    """Round-9 ADVICE: the regex-guarded cast in scalar_try_functions uses
    try_cast INSIDE the guard, so an overflow-range digit string returns
    NULL under ANSI mode instead of throwing from a plain cast."""
    df = spark.createDataFrame(
        [("99999999999999999999",), ("42",), ("x",)], "s string"
    )
    guarded = F.when(
        F.col("s").rlike(r"^\s*[+-]?\d+\s*$"), F.col("s").try_cast("int")
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {r.s: r.v for r in df.select("s", guarded.alias("v")).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert got == {"99999999999999999999": None, "42": 42, "x": None}


def test_hard_negatives_scale_arm_ivf(spark, sf_smoke, monkeypatch):
    """Round-9 (r8 VERDICT item #6): above the gate knn_hard_negatives
    routes probes through IVF. Invariants of the approximate arm: every
    returned cosine respects the max_cosine cap, is EXACT for that pair
    (identical to the brute-force score — bucketing selects candidates,
    never changes scores), ranks are contiguous from 1 per query, and
    every returned pair exists in the exact arm's candidate universe."""
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 0)
    approx = QS["knn_hard_negatives"](spark, sf_smoke).collect()
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 10_000)
    exact_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in QS["knn_hard_negatives"](spark, sf_smoke).collect()
    }
    assert approx
    by_q = {}
    for r in approx:
        assert r.cosine < 0.9
        by_q.setdefault(r.query_id, []).append(r.rank)
        # scores are exact: wherever the exact arm also ranked this pair,
        # the cosine is identical
        if (r.query_id, r.neighbor_id) in exact_all:
            assert r.cosine == exact_all[(r.query_id, r.neighbor_id)]
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_query_ivf_index_max_cosine_cap(spark, tmp_path):
    """query_ivf_index(max_cosine=...) == hard negatives straight off the
    serving index: with full probing it must equal brute-force
    hard_negatives over the same corpus."""
    import random

    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        build_ivf_index,
        hard_negatives,
        query_ivf_index,
    )

    def vec(i):
        rng = random.Random(i)
        return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(64)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, embedding array<double>"
    )
    probes = corpus.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf_hn")
    build_ivf_index(corpus, path, n_centroids=4, train_iters=2)
    got = sorted(
        tuple(r)
        for r in query_ivf_index(
            spark, path, probes, k=5, n_probe=4, max_cosine=0.5
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in hard_negatives(corpus, probes, k=5, max_cosine=0.5).collect()
    )
    assert got == want and got


def test_gate_derivation_drift_guard_fill_unit():
    """Exercise the drift-guard branch BEFORE the round whose backlog
    first fits a window (round 10): with fewer than 50 pending entries,
    spare slots fill with greens ordered by LATEST green round ascending
    (least recently driver-verified first), declaration-order tie-break —
    and a re-checked green rotates to the back next time."""
    names = [f"q{i:03d}" for i in range(60)]
    # 10 pending (q000..q009 never green); 50 greens with varied rounds
    hist = {n: (1, 1) for n in names[10:]}
    hist["q015"] = (1, 5)  # recently re-checked -> goes to the back
    hist["q020"] = (2, 2)
    window, backlog = entrymod._derive_gate_order(names=names, hist=hist)
    assert backlog == []
    assert window[:10] == names[:10]
    fill = window[10:]
    assert len(window) == 50 and len(set(window)) == 50
    # the 40 fill slots are the first 40 latest-round-1 greens in
    # declaration order; the round-2 and round-5 greens sort after ALL
    # 48 round-1 greens and miss this window
    r1_greens = [n for n in names[10:] if n not in ("q015", "q020")]
    assert fill == r1_greens[:40]
    assert "q015" not in window and "q020" not in window
    # simulate the driver re-checking this window: those greens move to
    # round 9, so the NEXT derivation rotates the stale greens in —
    # remaining r1 greens first, then round-2, then round-5, and only
    # then the just-refreshed round-9 ones
    hist2 = dict(hist)
    for n in fill:
        hist2[n] = (hist2[n][0], 9)
    window2, _ = entrymod._derive_gate_order(names=names, hist=hist2)
    fill2 = window2[10:]
    assert fill2[:8] == r1_greens[40:]
    assert fill2[8] == "q020"
    assert fill2[9] == "q015"
    assert fill2[10:] == fill[:30]  # refreshed greens, declaration order


# ---------------------------------------------------------------------------
# Collapse-and-expand identity: replica-exact near-dup pipelines
# ---------------------------------------------------------------------------


def _replicated_corpus(spark):
    """Distinct texts with controlled near-dup structure, replicated with
    varying copy counts and non-contiguous ids. Texts 0/1 and 2/3 are
    near-dups of each other (one-word edits on long shared runs); texts
    4..7 are mutually dissimilar; copy counts mix 1 and >1 so every
    branch of the expansion (clustered single-copy, clustered multi-copy,
    isolated multi-copy, isolated single-copy) is exercised."""
    base = [
        "the quick brown fox jumps over the lazy dog near the quiet river bank today",
        "the quick brown fox jumps over the lazy cat near the quiet river bank today",
        "pack my box with five dozen liquor jugs before the long winter delivery run",
        "pack my box with five dozen liquor jugs before the long summer delivery run",
        "completely unrelated text about spark partitions and shuffle boundaries here",
        "another standalone document discussing parquet footers and column pruning",
        "a third isolated text on broadcast joins and adaptive query execution",
        "final solitary passage covering watermarks and stateful stream operators",
    ]
    copies = [3, 1, 2, 1, 4, 1, 2, 1]
    rows, nid = [], 0
    for t, (txt, n) in enumerate(zip(base, copies)):
        for _ in range(n):
            rows.append((nid * 7 + t, txt))  # non-contiguous, text-skewed ids
            nid += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_clusters_collapsed_identity(spark):
    """near_dup_clusters_collapsed == cluster_pairs(minhash pairs on the
    FULL corpus), row for row — the proof obligation for running the
    clusters family on exact-dedup representatives."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        cluster_pairs,
        minhash_near_dup_pairs,
        near_dup_clusters_collapsed,
    )

    df = _replicated_corpus(spark)
    with cache_scope():
        pairs = minhash_near_dup_pairs(df)
        full = sorted(
            (r.node, r.cluster_id) for r in cluster_pairs(pairs).collect()
        )
    fast = sorted(
        (r.node, r.cluster_id)
        for r in near_dup_clusters_collapsed(df).collect()
    )
    assert fast == full and len(full) > 0


def test_near_dup_participants_collapsed_identity(spark):
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        minhash_near_dup_pairs,
        near_dup_participants_collapsed,
    )
    from pyspark.sql import functions as F

    df = _replicated_corpus(spark)
    with cache_scope():
        pairs = minhash_near_dup_pairs(df)
        full = sorted(
            r.doc_id
            for r in pairs.select(F.col("id_a").alias("doc_id"))
            .union(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .collect()
        )
    fast = sorted(
        r.doc_id for r in near_dup_participants_collapsed(df).collect()
    )
    assert fast == full and len(full) > 0


def test_replica_map_shape(spark):
    from boann_ocsf_security_data_platform_spark.operators.dedup import replica_map

    df = _replicated_corpus(spark)
    m = {r.doc_id: (r.rep_id, r.n_copies) for r in replica_map(df).collect()}
    assert len(m) == df.count()
    # every rep maps to itself; every doc's rep is the min id of its text
    for doc, (rep, n) in m.items():
        assert m[rep][0] == rep and rep <= doc and n >= 1


def test_clusters_family_gate_is_output_identical(spark, monkeypatch):
    """Entry-level identity: with the pairwise gate forced LOW, the five
    clusters-family entries run the collapse-and-expand arm at sf0.001 and
    must produce byte-identical rows to the full-corpus (oracle) arm —
    the gate is a plan choice, never a semantics choice."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    names = [
        "dedup_clusters",
        "dedup_filtered_corpus",
        "dedup_cluster_size_histogram",
        "corpus_dedup_report",
        "corpus_quality_dedup_interaction",
        "corpus_quality_roc_auc",
    ]
    qs = em.queries()
    want = {
        n: sorted(tuple(r) for r in qs[n](spark, sf).collect())
        for n in names
    }
    # force the collapse-and-expand arm
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 1)
    got = {
        n: sorted(tuple(r) for r in qs[n](spark, sf).collect())
        for n in names
    }
    for n in names:
        assert got[n] == want[n], n
        assert len(want[n]) > 0, n


def test_pin_shuffle_join_controls_join_strategy(spark):
    """The pin flag is a plan choice, not a semantics choice: with
    pin_shuffle_join=True the shingle self-join plans as SortMergeJoin;
    with False the planner may broadcast; the emitted pairs are identical
    either way."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    from pyspark.sql import functions as F

    df = _replicated_corpus(spark).withColumn("source", F.lit("s0"))
    with cache_scope():
        pinned = ngram_jaccard_pairs(df, threshold=0.5, pin_shuffle_join=True)
        p_pin = pinned._jdf.queryExecution().sparkPlan().toString()
        assert "SortMergeJoin" in p_pin
        rows_pin = sorted(tuple(r) for r in pinned.collect())
    with cache_scope():
        free = ngram_jaccard_pairs(df, threshold=0.5, pin_shuffle_join=False)
        rows_free = sorted(tuple(r) for r in free.collect())
    assert rows_pin == rows_free and len(rows_pin) > 0
