"""Round-5 operator units: CUSUM closed form vs the textbook recursion,
KS statistic vs a hand-built reference, JL projection vs the LSH planes."""

import math

from pyspark.sql import functions as F


def test_cusum_closed_form_matches_recursion(spark):
    """S_t = P_t - min(P_0..P_t) must equal the textbook recursion
    S_t = max(0, S_{t-1} + z_t - k) on both sides (pos and neg)."""
    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        cusum_changepoints,
    )

    vals = [10.0, 11.0, 9.0, 10.5, 30.0, 31.0, 29.5, 10.0, 9.5, 10.2]
    rows = [
        (i, f"2024-01-{i + 1:02d}T12:00:00", v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    out = {
        r.d.day: r
        for r in cusum_changepoints(
            df, drift_k=0.5, threshold_h=2.0
        ).collect()
    }
    mu = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / (len(vals) - 1))
    zs = [(v - mu) / sd for v in vals]
    sp = sn = 0.0
    for i, z in enumerate(zs):
        sp = max(0.0, sp + z - 0.5)
        sn = max(0.0, sn - z - 0.5)
        got = out[i + 1]
        assert abs(got.cusum_pos - sp) < 1e-3, (i, got.cusum_pos, sp)
        assert abs(got.cusum_neg - sn) < 1e-3, (i, got.cusum_neg, sn)
        assert got.is_changepoint == (sp > 2.0 or sn > 2.0)
    # the level shift at day 5 must be flagged
    assert any(r.is_changepoint for r in out.values())


def test_ks_statistic_hand_example(spark):
    """KS D for a = {1,2,3,4}, b = {3,4,5,6}: ECDFs diverge most at value
    2 (F_a=0.5, F_b=0) -> D = 0.5; with n=4 each the 5% critical value is
    1.36*sqrt(8/16) ~ 0.9617 -> fail to reject."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        ks_statistic,
    )

    rows = [(float(v), "a") for v in (1, 2, 3, 4)] + [
        (float(v), "b") for v in (3, 4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "v double, g string")
    r = ks_statistic(df, "v", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (4, 4)
    assert abs(r.ks_stat - 0.5) < 1e-9
    assert abs(r.critical_value - 1.36 * math.sqrt(8 / 16.0)) < 1e-6
    assert r.reject_h0 is False


def test_ks_statistic_identical_distributions_zero(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        ks_statistic,
    )

    rows = [(float(v), g) for g in ("a", "b") for v in range(20)]
    df = spark.createDataFrame(rows, "v double, g string")
    r = ks_statistic(df, "v", "g", "a", "b").collect()[0]
    assert r.ks_stat == 0.0 and r.reject_h0 is False


def test_random_projection_matches_lsh_sign_bits(spark, sf_smoke):
    """proj_p is the pre-sign-bit value of LSH plane p: sign(proj_p)
    must reproduce lsh_bucket's bit p exactly (same planes, same fold)."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        lsh_bucket,
        random_projection,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings").limit(50)
    out = random_projection(emb, out_dim=4, dim=64).withColumn(
        "bucket", lsh_bucket(F.col("embedding"), n_planes=4, dim=64)
    )
    for r in out.collect():
        for p in range(4):
            bit = (r.bucket >> p) & 1
            proj = getattr(r, f"proj_{p}")
            assert bit == (1 if proj > 0 else 0), (r.vec_id, p, proj)


def test_random_projection_preserves_relative_distance(spark):
    """JL sanity: identical vectors project identically; an orthogonal
    far vector stays far (no collapse to a constant)."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        random_projection,
    )

    v1 = [1.0] * 32 + [0.0] * 32
    v3 = [0.0] * 32 + [1.0] * 32
    df = spark.createDataFrame(
        [(1, v1), (2, list(v1)), (3, v3)], "vec_id long, embedding array<double>"
    )
    rows = {
        r.vec_id: r
        for r in random_projection(df, out_dim=8, dim=64).collect()
    }
    for p in range(8):
        assert getattr(rows[1], f"proj_{p}") == getattr(rows[2], f"proj_{p}")
    dist_12 = sum(
        (getattr(rows[1], f"proj_{p}") - getattr(rows[2], f"proj_{p}")) ** 2
        for p in range(8)
    )
    dist_13 = sum(
        (getattr(rows[1], f"proj_{p}") - getattr(rows[3], f"proj_{p}")) ** 2
        for p in range(8)
    )
    assert dist_12 == 0.0 and dist_13 > 0.1


def test_hash_features_are_token_counts(spark):
    """Bucket counts must sum to the token count and be reproducible."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        hash_feature_vector,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, ""), (3, "x")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in hash_feature_vector(df, n_buckets=4).collect()}
    assert sum(rows[1][f"f_{b}"] for b in range(4)) == 4
    assert sum(rows[2][f"f_{b}"] for b in range(4)) == 0
    assert sum(rows[3][f"f_{b}"] for b in range(4)) == 1
    again = {r.doc_id: r for r in hash_feature_vector(df, n_buckets=4).collect()}
    assert rows[1] == again[1]


def test_jaccard_link_prediction_hand_graph(spark):
    """Path graph 1-2-3-4: the only common-neighbor non-edges are (1,3)
    via 2, (2,4) via 3, and... (1,4)? no shared neighbor. J(1,3) =
    1/|{2} u {2,4}| = 1/2; J(2,4) = 1/|{1,3} u {3}| = 1/2."""
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.graph import (
        jaccard_link_prediction,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    with cache_scope():
        out = jaccard_link_prediction(edges, k=10)
        rows = {(r.ua, r.ub): r for r in out.collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    assert rows[(1, 3)].n_common == 1 and abs(rows[(1, 3)].jaccard - 0.5) < 1e-9
    assert rows[(2, 4)].n_common == 1 and abs(rows[(2, 4)].jaccard - 0.5) < 1e-9


def test_approx_percentiles_rank_error(spark, sf_smoke):
    """percentile_approx(accuracy=10000) guarantees rank error <= n/10000;
    verify each reported quantile's true rank is within that bound of the
    target rank against the exact sorted column."""
    import __spark_entry__ as entrymod
    from boann_ocsf_security_data_platform_spark.sources import load_table

    row = entrymod.queries()["agg_approx_percentiles"](spark, sf_smoke).collect()[0]
    l = load_table(spark, sf_smoke, "lineitem")
    n = l.count()
    bound = max(1.0, n / 10000.0) + 1
    for p in (0.25, 0.5, 0.75, 0.95, 0.99):
        v = row[f"p{int(p * 100)}"]
        rank_le = l.filter(F.col("l_extendedprice") <= v).count()
        rank_lt = l.filter(F.col("l_extendedprice") < v).count()
        target = p * n
        # true rank interval [rank_lt, rank_le] must come within bound
        assert rank_lt - bound <= target <= rank_le + bound, (p, v)


def test_mann_whitney_identical_groups_fail_to_reject(spark, sf_oracle):
    """Sanity on the registry query's machinery: comparing a segment's
    prices to THEMSELVES (split by an independent coin) must not reject.
    Built inline on a hand frame: two identical samples -> U = n^2/2,
    z = 0."""
    import __spark_entry__ as entrymod

    rows = [(float(v), True) for v in (1, 2, 3, 4, 5)] + [
        (float(v), False) for v in (1, 2, 3, 4, 5)
    ]
    df = spark.createDataFrame(rows, "v double, is_a boolean")
    from pyspark.sql import Window

    wv = Window.orderBy("v")
    wt = Window.partitionBy("v")
    r = df.select(
        "is_a",
        (
            F.rank().over(wv)
            + (F.count(F.lit(1)).over(wt) - F.lit(1)) / F.lit(2.0)
        ).alias("arank"),
    )
    got = r.agg(
        F.sum(F.when(F.col("is_a"), F.col("arank"))).alias("r_a")
    ).collect()[0]
    # identical samples share average ranks -> R_a = total/2 = 55/2
    assert abs(got.r_a - 27.5) < 1e-9


def test_kaplan_meier_hand_example(spark):
    """Textbook KM: durations 1(event), 2(censored), 3(event), 4(event)
    of 4 subjects -> S(1)=3/4, S(3)=3/4*1/2=0.375, S(4)=0."""
    rows = [
        # subject 1: signup t=0, purchase t=1
        (1, "signup", "2024-01-01T00:00:00"),
        (1, "purchase", "2024-01-01T00:00:01"),
        # subject 2: signup t=0, never purchases (censored at horizon 4)
        (2, "signup", "2024-01-01T00:00:00"),
        # subject 3: purchase at t=3
        (3, "signup", "2024-01-01T00:00:00"),
        (3, "purchase", "2024-01-01T00:00:03"),
        # subject 4: purchase at t=4 (also defines the horizon)
        (4, "signup", "2024-01-01T00:00:00"),
        (4, "purchase", "2024-01-01T00:00:04"),
    ]
    df = spark.createDataFrame(
        [(u, t, s) for u, t, s in rows],
        "user_id long, event_type string, ts_s string",
    ).select(
        "user_id",
        "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.lit(0).alias("event_id"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    import os
    import tempfile

    out = os.path.join(tempfile.mkdtemp(), "km")
    os.makedirs(out)
    df.write.parquet(os.path.join(out, "events.parquet"))
    import __spark_entry__ as entrymod

    got = {
        r.t_seconds: r
        for r in entrymod.queries()["events_kaplan_meier"](spark, out).collect()
    }
    assert set(got) == {1.0, 3.0, 4.0}
    assert got[1.0].n_risk == 4 and abs(got[1.0].survival - 0.75) < 1e-9
    # subject 2 censored at 4s (horizon) stays at risk through t=3
    assert got[3.0].n_risk == 3 and abs(got[3.0].survival - 0.5) < 1e-9
    # at t=4 the censored subject 2 (horizon 4s) is still at risk with
    # subject 4 (events precede censoring at equal times): n=2, d=1
    assert got[4.0].n_risk == 2 and abs(got[4.0].survival - 0.25) < 1e-9


def test_asof_nearest_tie_prefers_earlier(spark):
    """direction='nearest' with equidistant candidates must pick the
    EARLIER right row (pinned convention), and left rows with no match
    survive with NULL."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        asof_join,
    )

    l = spark.createDataFrame(
        [(1, "2024-01-01T00:00:10"), (2, "2024-01-01T00:00:10")],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("lt"))
    r = spark.createDataFrame(
        [(1, 100, "2024-01-01T00:00:05"), (1, 101, "2024-01-01T00:00:15")],
        "k long, rid long, ts_s string",
    ).select("k", "rid", F.col("ts_s").cast("timestamp").alias("rt"))
    out = {
        row.k: row
        for row in asof_join(
            l, r, on="k", left_time="lt", right_time="rt",
            direction="nearest",
        ).collect()
    }
    assert out[1].r_rid == 100  # 5s away on both sides -> earlier wins
    assert out[2].r_rid is None  # no right rows for key 2


def test_asof_unknown_direction_raises(spark):
    import pytest as _pytest

    from boann_ocsf_security_data_platform_spark.operators.relational import (
        asof_join,
    )

    with _pytest.raises(ValueError, match="unknown asof direction"):
        asof_join(None, None, on="k", left_time="a", right_time="b",
                  direction="sideways")


def test_bpe_pandas_matches_expression(spark, sf_smoke):
    """The Arrow-batched rank-based BPE encode must match the
    expression-path fold (merges applied in training order) on the REAL
    trained merges over the real vocabulary — the documented scale-path
    parity contract."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        bpe_segment,
        bpe_segment_pandas,
        tokens,
        train_bpe_merges,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents")
    merges = train_bpe_merges(docs, n_merges=10)
    assert len(merges) > 3
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
        .limit(500)
    )
    expr_path = vocab.select(
        "w", F.array_join(bpe_segment("w", merges), " ").alias("pieces")
    )
    pandas_path = bpe_segment_pandas(vocab, merges)
    a = {r.w: r.pieces for r in expr_path.collect()}
    b = {r.w: r.pieces for r in pandas_path.collect()}
    assert a == b


def test_interval_merge_hand_example(spark, tmp_path):
    """[1,5) + [3,8) overlap -> one island [1,8) (7 days); [10,12) is a
    second island; adjacent-but-touching [8,10)? start == prev end is
    NOT a new island under the > rule (closed-open abutment merges)."""
    import __spark_entry__ as entrymod

    l = spark.createDataFrame(
        [
            (1, 1, "1995-01-05"),
            (2, 1, "1995-01-08"),
            (3, 1, "1995-01-12"),
        ],
        "l_orderkey long, l_suppkey long, ship_s string",
    ).select(
        "l_orderkey", "l_suppkey", F.col("ship_s").cast("date").alias("l_shipdate")
    )
    o = spark.createDataFrame(
        [(1, "1995-01-01"), (2, "1995-01-03"), (3, "1995-01-10")],
        "o_orderkey long, od_s string",
    ).select("o_orderkey", F.col("od_s").cast("date").alias("o_orderdate"))
    import os

    out = str(tmp_path / "mi")
    os.makedirs(out)
    l.write.parquet(os.path.join(out, "lineitem.parquet"))
    o.write.parquet(os.path.join(out, "orders.parquet"))
    rows = entrymod.queries()["range_merge_intervals"](spark, out).collect()
    assert len(rows) == 1
    r = rows[0]
    # islands: [01-01,01-08) (intervals 1+2 overlap), [01-10,01-12)
    assert r.n_intervals == 2
    assert r.covered_days == 7 + 2


def test_span_corruption_mask_rate_and_determinism(spark, sf_smoke):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["text_span_corruption_stats"]
    rows = q(spark, sf_smoke).collect()
    tot_tokens = sum(r.n_tokens for r in rows)
    tot_masked = sum(r.n_masked for r in rows)
    assert 0.10 < tot_masked / tot_tokens < 0.20  # ~15% by construction
    for r in rows:
        assert r.n_spans <= r.n_masked  # spans are runs of masked
    again = {r.doc_id: (r.n_masked, r.n_spans) for r in q(spark, sf_smoke).collect()}
    assert {r.doc_id: (r.n_masked, r.n_spans) for r in rows} == again


def test_quality_logreg_learns_something(spark, sf_smoke):
    """Three GD steps must move the weights off zero and reach at least
    the majority-class baseline accuracy; re-training is deterministic."""
    import __spark_entry__ as entrymod
    from boann_ocsf_security_data_platform_spark.sources import load_table

    q = entrymod.queries()["corpus_quality_logreg"]
    r = q(spark, sf_smoke).collect()[0]
    assert any(
        abs(getattr(r, c)) > 0
        for c in ("w_bias", "w_len", "w_stop", "w_mwl", "w_digit")
    )
    docs = load_table(spark, sf_smoke, "documents")
    n = docs.count()
    n_pos = docs.filter(F.col("source") == "src0").count()
    majority = max(n_pos, n - n_pos) / n
    assert r.train_accuracy >= round(majority, 6) - 1e-9
    r2 = q(spark, sf_smoke).collect()[0]
    assert r == r2


def test_pcm_energy_known_waveform(spark):
    """Hand-built WAV with known samples [1000, -1000, 0, 32767, -32768]:
    sums/extremes must decode exactly."""
    import struct

    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        pcm_energy,
    )

    samples = [1000, -1000, 0, 32767, -32768]
    data = struct.pack("<5h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not a wav"))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in pcm_energy(df).collect()}
    r = rows[1]
    assert r.n_frames == 5
    assert r.sum_samples == sum(samples)
    assert r.sum_abs == sum(abs(s) for s in samples)
    assert (r.min_sample, r.max_sample) == (-32768, 32767)
    assert rows[2].n_frames is None  # non-WAV yields NULLs, not errors


def test_bench_headline_names_are_registered():
    """Every bench.py HEADLINE entry must exist in queries() — guards
    against typos when extending the suite (a missing name would crash
    the driver's bench run, losing the round's perf signal)."""
    import bench
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    assert bench.CORE15 == bench.HEADLINE[:15]


def test_interval_merge_against_python_reference(spark, tmp_path):
    """Randomized-ish (fixed seed table) interval-merge cross-check: the
    windowed gaps-and-islands result must equal the classic sort-and-
    sweep reference merge on the same intervals."""
    import os
    import random

    import __spark_entry__ as entrymod

    rng = random.Random(77)
    rows_l, rows_o = [], []
    for i in range(60):
        start = rng.randint(0, 60)
        length = rng.randint(1, 15)
        rows_o.append((i, f"1995-01-01"))
        rows_l.append((i, 1 + (i % 3), start, start + length))
    # build dates from offsets
    import datetime

    base = datetime.date(1995, 1, 1)
    l = spark.createDataFrame(
        [
            (ok, sk, (base + datetime.timedelta(days=e)).isoformat())
            for ok, sk, s, e in rows_l
        ],
        "l_orderkey long, l_suppkey long, ship_s string",
    ).select(
        "l_orderkey", "l_suppkey",
        F.col("ship_s").cast("date").alias("l_shipdate"),
    )
    o = spark.createDataFrame(
        [
            (ok, (base + datetime.timedelta(days=s)).isoformat())
            for (ok, sk, s, e) in rows_l
        ],
        "o_orderkey long, od_s string",
    ).select("o_orderkey", F.col("od_s").cast("date").alias("o_orderdate"))
    out = str(tmp_path / "mi2")
    os.makedirs(out)
    l.write.parquet(os.path.join(out, "lineitem.parquet"))
    o.write.parquet(os.path.join(out, "orders.parquet"))
    got = {
        r.suppkey: (r.n_intervals, r.covered_days)
        for r in entrymod.queries()["range_merge_intervals"](spark, out).collect()
    }
    # python reference: sort by (start, end), sweep with > rule
    by_key = {}
    for ok, sk, s, e in rows_l:
        by_key.setdefault(sk, []).append((s, e))
    for sk, ivs in by_key.items():
        merged = []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        want = (len(merged), sum(e - s for s, e in merged))
        assert got[sk] == want, (sk, got[sk], want)


def test_benford_shares_sum_to_one(spark, sf_smoke):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["agg_benford_deviation"](spark, sf_smoke).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-4


def test_personalized_pagerank_mass_concentrates_on_seeds(spark, sf_smoke):
    """PPR sanity: total rank stays ~1 (stochastic with restart), the
    seed set collectively outranks an equal-size non-seed set, and an
    empty seed list raises."""
    import pytest as _pytest

    import __spark_entry__ as entrymod
    from boann_ocsf_security_data_platform_spark.operators.graph import (
        personalized_pagerank,
    )

    rows = entrymod.queries()["graph_personalized_pagerank"](
        spark, sf_smoke
    ).collect()
    total = sum(r.ppr for r in rows)
    assert abs(total - 1.0) < 0.01  # walk + restart conserves mass
    by_node = {r.node: r.ppr for r in rows}
    seed_mass = sum(by_node.get(s, 0.0) for s in (0, 1, 2))
    # the restart step alone guarantees the seeds at least (1-d) of the
    # mass every round; on this DENSE trade graph the walk mass spreads
    # almost uniformly, so exactly-the-teleport-share is the honest
    # expectation (a sparse graph would concentrate more)
    assert seed_mass >= 0.15 - 1e-6
    # and zero-mass nodes can only be non-seeds unreachable from seeds
    assert all(by_node.get(s, 0.0) > 0 for s in (0, 1, 2))
    with _pytest.raises(ValueError, match="non-empty seed"):
        personalized_pagerank(None, seeds=[])
