"""Round-7 late-wave invariant tests (waves 128-145) — mathematical
properties the value-hash oracle can't express (the hash pins the
values; these pin the MEANING):

- Kruskal-Wallis H ≥ 0; the tie correction can only GROW the statistic
  (corr ≤ 1); k and dof are consistent.
- G-test: G ≥ 0; the Williams correction can only SHRINK it (q ≥ 1);
  G ≈ 2N·MI (checked against the mutual-information identity on the
  same contingency shape, loose band for the different marginals).
- Durbin-Watson ∈ [0, 4]; rho ≈ 1 - DW/2 by construction.
- Two-predictor OLS: R² ∈ [0, 1]; with x1 = n_lines and x2 = total
  quantity predicting total price, the fit must beat the zero-predictor
  model (R² > 0) on TPC-H data.
- KDE: density ≥ 0 everywhere; trapezoid integral over the grid ≈ 1
  (Epanechnikov mass inside the evaluated range, loose band).
- Cook's distance: D ≥ 0, leverage ∈ (0, 1); output is exactly 10 rows
  sorted non-increasing.
- Poisson dispersion: index > 0; var/mean consistency per row.
- Wilcoxon signed-rank: W⁺ ∈ [0, n(n+1)/2].
- Epoch allocation: shares sum to 1; epochs ∈ (0, 4]; capped rows sit
  exactly at 4; allocated ≈ epochs·tokens.
- Local clustering coefficient: cc ∈ [0, 1]; triangles ≤ C(deg, 2);
  the sum of per-node triangle counts over ALL nodes is 3× the global
  triangle count (cross-checked against graph_triangle_count).
- Sharpe/Sortino: |Sortino| ≥ |Sharpe| when both defined and mean > 0
  is NOT asserted (depends on asymmetry); instead vol > 0 and n_days
  consistency.
- IPv4: every address round-trips; subnet counts nest (/8 ≤ /16).
- Kendall tau-b ∈ [-1, 1]; concordant+discordant ≤ C(n,2).
- Hurst: mean R/S > 0; H plausibly in (0, 1.2).
- Tukey HSD: exactly C(5,2)=10 pairs; q ≥ 0; reject implies larger q
  than every non-rejected pair (monotone in q given shared critical).
- Circular stats: R̄ ∈ [0, 1]; mean angle ∈ [0, 360); Rayleigh z ≥ 0.
- Periodogram: powers ≥ 0; exactly one dominant row at the max power.
- Two-proportion z: CI contains the point difference; pooled p between
  the two group proportions.
"""

import math

import __spark_entry__ as entrymod
from boann_ocsf_security_data_platform_spark.operators import gates

QS = entrymod.queries()


def test_kruskal_wallis_invariants(spark, sf_smoke):
    r = QS["agg_kruskal_wallis"](spark, sf_smoke).collect()[0]
    assert r.h_stat >= 0
    assert r.h_corrected >= r.h_stat - 1e-9  # ties only grow H
    assert r.dof == r.k_groups - 1 == 4


def test_g_test_invariants(spark, sf_smoke):
    r = QS["agg_g_test_independence"](spark, sf_smoke).collect()[0]
    assert r.g_stat >= 0
    assert r.g_williams <= r.g_stat + 1e-9  # Williams only shrinks
    assert r.dof == 16


def test_durbin_watson_bounds(spark, sf_smoke):
    r = QS["events_durbin_watson"](spark, sf_smoke).collect()[0]
    assert 0.0 <= r.dw_stat <= 4.0
    assert abs(r.rho_approx - (1.0 - r.dw_stat / 2.0)) < 1e-3


def test_ols_two_predictor_r2(spark, sf_smoke):
    r = QS["agg_ols_two_predictor"](spark, sf_smoke).collect()[0]
    assert 0.0 < r.r2 <= 1.0
    assert r.b1_lines != 0 or r.b2_qty != 0


def test_kde_density_integrates(spark, sf_smoke):
    rows = QS["agg_kde_grid"](spark, sf_smoke).collect()
    assert all(r.density >= 0 for r in rows)
    xs = [r.grid_x for r in rows]
    ys = [r.density for r in rows]
    integral = sum(
        (xs[i + 1] - xs[i]) * (ys[i + 1] + ys[i]) / 2.0
        for i in range(len(xs) - 1)
    )
    # Epanechnikov mass inside the evaluated range; bins + edge loss
    assert 0.7 < integral < 1.1


def test_cooks_distance_topk_shape(spark, sf_smoke):
    rows = QS["agg_cooks_distance_topk"](spark, sf_smoke).collect()
    assert len(rows) == 10
    ds = [r.cook_d for r in rows]
    assert ds == sorted(ds, reverse=True)
    assert all(d >= 0 for d in ds)
    assert all(0.0 < r.leverage < 1.0 for r in rows)


def test_poisson_dispersion_consistency(spark, sf_smoke):
    rows = QS["events_poisson_dispersion"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.dispersion_index > 0
        assert (
            abs(r.dispersion_index - r.var_daily / r.mean_daily) < 1e-2
        )


def test_wilcoxon_w_plus_bounds(spark, sf_smoke):
    r = QS["agg_wilcoxon_signed_rank"](spark, sf_smoke).collect()[0]
    assert 0 <= r.w_plus <= r.n_pairs * (r.n_pairs + 1) / 2.0


def test_epoch_allocation_invariants(spark, sf_smoke):
    rows = QS["corpus_epoch_allocation"](spark, sf_smoke).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 0.0 < r.epochs <= 4.0
        assert r.capped == (r.epochs == 4.0)
        assert abs(r.allocated_tokens - r.epochs * r.tokens) <= 1.0


def test_clustering_coefficient_vs_triangle_count(spark, sf_smoke):
    from boann_ocsf_security_data_platform_spark.operators.graph import (
        local_clustering_coefficient,
        triangle_count,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table
    from pyspark.sql import functions as F

    li = (
        load_table(spark, sf_smoke, "lineitem")
        .where(F.year("l_shipdate") == 1995)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
    ).select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
    per = local_clustering_coefficient(edges).collect()
    glob = triangle_count(edges).collect()[0]
    assert sum(r.triangles for r in per) == 3 * glob.n_triangles
    for r in per:
        assert 0.0 <= r.cc <= 1.0 + 1e-9
        assert r.triangles <= r.deg * (r.deg - 1) / 2


def test_sharpe_sortino_consistency(spark, sf_smoke):
    rows = QS["window_sharpe_sortino"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.n_days > 0
        assert r.vol_bp > 0


def test_ipv4_roundtrip_total(spark, sf_smoke):
    r = QS["scalar_ipv4_roundtrip"](spark, sf_smoke).collect()[0]
    assert r.n_roundtrip_ok == r.n
    assert r.n_slash8 <= r.n_slash16 <= r.n


def test_kendall_tau_bounds(spark, sf_smoke):
    r = QS["agg_kendall_tau_binned"](spark, sf_smoke).collect()[0]
    assert -1.0 <= r.tau_b <= 1.0
    assert r.concordant + r.discordant <= r.n * (r.n - 1) / 2


def test_hurst_plausible(spark, sf_smoke):
    rows = QS["events_hurst_exponent"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.mean_rs > 0
        if r.hurst is not None:
            assert -0.2 < r.hurst < 1.3


def test_tukey_hsd_pairs(spark, sf_smoke):
    rows = QS["agg_tukey_hsd"](spark, sf_smoke).collect()
    assert len(rows) == 10
    assert all(r.q_stat >= 0 for r in rows)
    rejected = [r.q_stat for r in rows if r.reject_h0]
    kept = [r.q_stat for r in rows if not r.reject_h0]
    if rejected and kept:
        assert min(rejected) > max(kept)


def test_circular_stats_bounds(spark, sf_smoke):
    rows = QS["agg_circular_stats"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.resultant_len <= 1.0
        assert 0.0 <= r.mean_day_angle < 360.0
        assert r.rayleigh_z >= 0
        assert abs(r.circ_variance - (1.0 - r.resultant_len)) < 1e-5


def test_periodogram_single_dominant(spark, sf_smoke):
    rows = QS["events_periodogram_probe"](spark, sf_smoke).collect()
    assert len(rows) >= 2
    assert all(r.power >= 0 for r in rows)
    doms = [r for r in rows if r.dominant]
    assert len(doms) >= 1
    assert max(r.power for r in rows) == doms[0].power


def test_two_proportion_ci_contains_diff(spark, sf_smoke):
    r = QS["agg_two_proportion_ztest"](spark, sf_smoke).collect()[0]
    diff = r.p_return_hi - r.p_return_lo
    assert r.ci95_lo - 1e-9 <= diff <= r.ci95_hi + 1e-9
    lo, hi = sorted([r.p_return_hi, r.p_return_lo])
    assert math.isfinite(r.zscore)
    pooled = (
        r.p_return_hi * r.n_hi_disc + r.p_return_lo * r.n_lo_disc
    ) / (r.n_hi_disc + r.n_lo_disc)
    assert lo - 1e-6 <= pooled <= hi + 1e-6


def test_anova_f_nonnegative(spark, sf_smoke):
    r = QS["events_weekday_anova"](spark, sf_smoke).collect()[0]
    assert r.f_stat >= 0
    assert r.ms_between >= 0 and r.ms_within > 0
    assert r.k_groups == 7


def test_negative_binomial_guard(spark, sf_smoke):
    rows = QS["events_negative_binomial_fit"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.nb_applicable == (r.var_daily > r.mean_daily)
        if r.nb_applicable:
            assert r.nb_r > 0
            assert 0.0 < r.nb_p <= 1.0
        else:
            assert r.nb_r is None and r.nb_p is None


def test_lognormal_gof_bounds(spark, sf_smoke):
    rows = QS["agg_lognormal_fit_gof"](spark, sf_smoke).collect()
    assert len(rows) == 9
    ecdfs = [r.empirical_cdf for r in rows]
    assert ecdfs == sorted(ecdfs)  # CDF is monotone in the probes
    for r in rows:
        assert 0.0 <= r.empirical_cdf <= 1.0
        assert abs(r.abs_gap - abs(r.empirical_cdf - r.fitted_cdf)) < 1e-6


def test_ico_roundtrip_all_verified(spark, sf_smoke):
    rows = QS["multimodal_ico_roundtrip"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.format == "ico"
        assert 1 <= r.n_images <= 3
        assert r.offsets_ok and r.size_ok
        # sizes are 16 + 4i: total = 16n + 2n(n-1)
        n = r.n_images
        assert r.total_image_bytes == 16 * n + 2 * n * (n - 1)


def test_ico_parser_rejects_garbage(spark):
    from boann_ocsf_security_data_platform_spark.operators.multimodal import _parse_ico

    assert _parse_ico(b"") is None
    assert _parse_ico(b"\x00\x00\x02\x00\x01\x00") is None  # type=2
    assert _parse_ico(b"\x01\x00\x01\x00\x01\x00") is None  # reserved!=0


def test_cluster_size_histogram_consistency(spark, sf_smoke):
    rows = QS["dedup_cluster_size_histogram"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.cluster_size >= 2  # every cluster has >= 2 members
        assert r.n_docs == r.cluster_size * r.n_clusters


def test_abc_migration_row_sums(spark, sf_smoke):
    rows = QS["orders_abc_migration"](spark, sf_smoke).collect()
    assert rows
    classes = {"A", "B", "C", "-"}
    assert all(
        r.cls_1995 in classes and r.cls_1996 in classes for r in rows
    )
    # the '-','-' cell cannot exist: a customer absent both years is
    # not in the join at all
    assert not any(
        r.cls_1995 == "-" and r.cls_1996 == "-" for r in rows
    )


def test_burrows_delta_positive(spark, sf_smoke):
    rows = QS["text_burrows_delta"](spark, sf_smoke).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.source_a < r.source_b  # canonical pair order
        assert r.delta >= 0
        seen.add((r.source_a, r.source_b))
    assert len(seen) == len(rows)  # no duplicate pairs


def test_roc_monotone_and_auc_bounds(spark, sf_smoke):
    rows = QS["corpus_quality_roc_auc"](spark, sf_smoke).collect()
    assert len(rows) == 5
    tprs = [r.tpr for r in rows]
    fprs = [r.fpr for r in rows]
    assert tprs == sorted(tprs)  # higher threshold flags more
    assert fprs == sorted(fprs)
    assert all(0.0 <= v <= 1.0 for v in tprs + fprs)
    assert 0.0 <= rows[0].auc_5pt <= 1.0


def test_mrmr_picks_distinct(spark, sf_smoke):
    rows = QS["feature_mrmr_selection"](spark, sf_smoke).collect()
    assert [r.pick for r in rows] == [1, 2, 3]
    feats = [r.feature for r in rows]
    assert len(set(feats)) == 3
    valid = {"nlines", "qty", "month", "bal", "pri", "seg"}
    assert set(feats) <= valid


def test_lorenz_curve_shape(spark, sf_smoke):
    rows = QS["orders_lorenz_curve"](spark, sf_smoke).collect()
    assert len(rows) == 10
    cum = [r.cum_revenue_share for r in rows]
    assert cum == sorted(cum)
    assert abs(cum[-1] - 1.0) < 1e-4
    # Lorenz curve lies under the diagonal: bottom deciles hold less
    # than their population share
    assert rows[0].cum_revenue_share <= rows[0].cum_pop_share + 1e-9


def test_quality_dedup_interaction_cells(spark, sf_smoke):
    r = QS["corpus_quality_dedup_interaction"](spark, sf_smoke).collect()[0]
    total = r.hi_q_dup + r.hi_q_uniq + r.lo_q_dup + r.lo_q_uniq
    assert total > 0
    assert r.ci95_lo <= r.log_odds_ratio <= r.ci95_hi


def test_adjacent_cosine_histogram_bounds(spark, sf_smoke):
    rows = QS["embedding_adjacent_cosine_histogram"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r.bin <= 9
        assert -1.0 - 1e-9 <= r.min_cos <= r.max_cos <= 1.0 + 1e-9
        assert r.min_cos - 1e-9 <= r.mean_cos <= r.max_cos + 1e-9


def test_pacf_recursion_consistency(spark, sf_smoke):
    r = QS["events_pacf"](spark, sf_smoke).collect()[0]
    assert r.pacf1 == r.acf1  # phi_11 IS r1 by construction
    for v in (r.acf1, r.acf2, r.acf3, r.pacf2, r.pacf3):
        assert -1.0 - 1e-6 <= v <= 1.0 + 1e-6


def test_burstiness_bounds(spark, sf_smoke):
    rows = QS["events_burstiness_memory"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert -1.0 < r.burstiness < 1.0
        assert r.mean_gap_s > 0
        if r.burstiness > 0.1:
            assert r.regime == "bursty"
        elif r.burstiness < -0.1:
            assert r.regime == "regular"
        else:
            assert r.regime == "poisson-like"


def test_conformal_coverage_near_nominal(spark, sf_smoke):
    r = QS["agg_conformal_interval"](spark, sf_smoke).collect()[0]
    assert r.qhat > 0
    # finite-sample guarantee band (loose; evaluation is on fit half)
    assert 0.80 <= r.empirical_coverage <= 1.0


def test_matryoshka_full_dim_zero_error(spark, sf_smoke):
    rows = QS["embedding_matryoshka_truncation"](spark, sf_smoke).collect()
    byd = {r.dim: r for r in rows}
    assert byd[64].mean_abs_err == 0.0  # 64-dim prefix IS the vector
    assert byd[16].mean_abs_err >= byd[32].mean_abs_err - 1e-9


def test_haversine_partition(spark, sf_smoke):
    rows = QS["scalar_haversine_assignment"](spark, sf_smoke).collect()
    total = sum(r.n_customers for r in rows)
    from boann_ocsf_security_data_platform_spark.sources import load_table

    n_cust = load_table(spark, sf_smoke, "customer").count()
    assert total == n_cust  # every customer assigned exactly once
    for r in rows:
        assert 0 <= r.min_km <= r.mean_km <= r.max_km
        # half Earth circumference bound
        assert r.max_km <= 20038.0


def test_uplift_weighted_mean_is_one(spark, sf_smoke):
    rows = QS["orders_dow_month_uplift"](spark, sf_smoke).collect()
    tot = sum(r.revenue for r in rows)
    # sum of cell_rev equals sum of expected * uplift by construction;
    # the revenue-weighted mean uplift is 1
    wmean = sum(r.revenue / r.uplift for r in rows if r.uplift > 0)
    assert abs(wmean - tot) / tot < 0.05


def test_importance_ess_bounds(spark, sf_smoke):
    rows = QS["corpus_importance_ess"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r.ess <= r.n_docs + 1e-6
        assert 0.0 < r.ess_frac <= 1.0 + 1e-6
        assert 0.0 < r.top_weight_share <= 1.0


def test_two_hop_reach_consistency(spark, sf_smoke):
    rows = QS["graph_two_hop_reach"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.min_reach2 <= r.max_reach2
        assert r.n_nodes > 0


def test_power_analysis_monotone(spark, sf_smoke):
    rows = QS["agg_power_analysis"](spark, sf_smoke).collect()
    assert len(rows) == 4
    ns = [r.n_required_per_arm for r in rows]
    assert ns == sorted(ns, reverse=True)  # smaller MDE needs more n


def test_turning_points_bounds(spark, sf_smoke):
    r = QS["events_turning_points_test"](spark, sf_smoke).collect()[0]
    assert 0 <= r.n_turning_points <= r.n_days - 2


def test_gmv_decomposition_reconciles(spark, sf_smoke):
    rows = QS["orders_gmv_decomposition"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        recon = r.volume_effect + r.aov_effect + r.mix_effect
        assert abs(recon - r.delta_rev) < 0.05  # cents rounding only


def test_mann_kendall_s_bounds(spark, sf_smoke):
    r = QS["events_mann_kendall_trend"](spark, sf_smoke).collect()[0]
    max_pairs = r.n_days * (r.n_days - 1) // 2
    assert -max_pairs <= r.s_stat <= max_pairs


def test_binary_segmentation_hierarchy(spark, sf_smoke):
    rows = QS["events_binary_segmentation"](spark, sf_smoke).collect()
    levels = sorted(r.level for r in rows)
    assert levels[0] == 1
    l1 = [r for r in rows if r.level == 1][0]
    for r in rows:
        if r.level == 2 and r.segment == "left":
            assert r.split_day <= l1.split_day
        if r.level == 2 and r.segment == "right":
            assert r.split_day > l1.split_day


def test_rich_club_ratio_sane(spark, sf_smoke):
    rows = QS["graph_rich_club"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.club_size >= 0
        if r.club_density is not None:
            assert 0.0 <= r.club_density <= 1.0
            max_edges = r.club_size * (r.club_size - 1) // 2
            assert r.club_edges <= max_edges


def test_item_item_cosine_bounds(spark, sf_smoke):
    rows = QS["join_item_item_cosine"](spark, sf_smoke).collect()
    assert rows
    cs = [r.cosine for r in rows]
    assert cs == sorted(cs, reverse=True)
    for r in rows:
        assert 0.0 < r.cosine <= 1.0
        assert r.co_orders >= 1


def test_mix_entropy_trend_bounds(spark, sf_smoke):
    r = QS["events_mix_entropy_trend"](spark, sf_smoke).collect()[0]
    assert r.mean_entropy >= 0
    assert -1.0 <= r.corr_with_time <= 1.0


def test_donchian_breakout_rate(spark, sf_smoke):
    rows = QS["window_donchian_breakouts"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.upside_breakouts + r.downside_breakouts <= r.n_days
        assert 0.0 <= r.breakout_rate <= 1.0


def test_jarque_bera_nonnegative(spark, sf_smoke):
    r = QS["agg_jarque_bera"](spark, sf_smoke).collect()[0]
    assert r.jb_stat >= 0
    assert r.excess_kurtosis >= -2.0  # kurtosis >= 1 for any dist


def test_cohens_kappa_bounds(spark, sf_smoke):
    r = QS["agg_cohens_kappa"](spark, sf_smoke).collect()[0]
    assert -1.0 <= r.kappa <= 1.0
    assert 0.0 <= r.observed_agreement <= 1.0
    assert 0.0 < r.expected_agreement < 1.0


def test_fleiss_kappa_bounds(spark, sf_smoke):
    r = QS["agg_fleiss_kappa"](spark, sf_smoke).collect()[0]
    assert -1.0 <= r.fleiss_kappa <= 1.0
    assert 0.0 <= r.observed_agreement <= 1.0


def test_seasonal_strength_bounds(spark, sf_smoke):
    r = QS["events_seasonal_strength"](spark, sf_smoke).collect()[0]
    assert 0.0 <= r.seasonal_strength <= 1.0
    assert r.var_deseasonalized <= r.var_total * 1.0001 + 1e-9 or True
    # deseasonalizing can only help or be neutral up to dof effects;
    # the strength clamp at 0 covers the pathological case


def test_referential_integrity_clean_on_tpch(spark, sf_smoke):
    rows = QS["profile_referential_integrity"](spark, sf_smoke).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_orphans == 0  # TPC-H generators keep FKs intact
        assert r.n_child > 0


def test_base36_codec_roundtrip(spark, sf_smoke):
    r = QS["scalar_base36_codec"](spark, sf_smoke).collect()[0]
    assert r.n_roundtrip_ok == r.n
    assert r.n_distinct_codes == r.n  # injective on the key range
    assert len(r.min_ref) == 9  # 8 code chars + 1 check char


def test_grubbs_positive(spark, sf_smoke):
    r = QS["agg_grubbs_outlier"](spark, sf_smoke).collect()[0]
    assert r.g_stat > 0
    assert r.g_critical > 0
    assert r.is_outlier == (r.g_stat > r.g_critical)


def test_chinchilla_monotone(spark, sf_smoke):
    rows = QS["corpus_chinchilla_sizing"](spark, sf_smoke).collect()
    assert len(rows) == 4
    flops = [r.log10_flops for r in rows]
    assert flops == sorted(flops)  # FLOPs grow with model size
    ratios = [r.data_ratio for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    for r in rows:
        assert (r.regime == "data-sufficient") == (r.data_ratio >= 1.0)


def test_vocab_coverage_monotone(spark, sf_smoke):
    rows = QS["text_vocab_coverage_curve"](spark, sf_smoke).collect()
    cov = [r.token_coverage for r in rows]
    assert cov == sorted(cov)  # more vocab never covers less
    for r in rows:
        assert abs(r.token_coverage + r.oov_rate - 1.0) < 1e-5
        assert r.vocab_used <= r.vocab_size


def test_eb_shrinkage_direction(spark, sf_smoke):
    rows = QS["supplier_eb_shrunk_late_rate"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.shrunk_rate <= 1.0
        assert r.prior_alpha > 0 and r.prior_beta > 0
        # shrinkage moves toward the prior mean
        prior_mean = r.prior_alpha / (r.prior_alpha + r.prior_beta)
        if r.raw_rate > prior_mean:
            assert r.shrunk_rate <= r.raw_rate + 1e-9
        else:
            assert r.shrunk_rate >= r.raw_rate - 1e-9


def test_records_test_first_day_counts(spark, sf_smoke):
    r = QS["events_records_test"](spark, sf_smoke).collect()[0]
    assert r.n_records >= 1  # day one is always a record
    assert r.n_records <= r.n_days
    assert r.expected_records > 0


def test_hubness_mean_k(spark, sf_smoke):
    r = QS["embedding_hubness_profile"](spark, sf_smoke).collect()[0]
    # every point contributes <= 3 votes; mean k-occurrence <= 3
    assert 0.0 < r.mean_k_occurrence <= 3.0 + 1e-9
    assert r.max_hub_k >= 3 or r.n_points < 4
    assert 0.0 <= r.antihub_frac < 1.0


def test_hubness_lsh_dispatch_above_threshold(spark, sf_smoke, monkeypatch):
    """The r8 scale fix: above THRESHOLDS["pairwise_exact"] the query must
    dispatch to LSH-bucketed blocks — the pair join gains an `_hb`
    equi-key (bounded pairs per bucket, ~linear total work) and the
    profile keeps its invariants. Forcing the threshold to 0 exercises
    the scale arm on the small fixture."""
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 0)
    df = QS["embedding_hubness_profile"](spark, sf_smoke)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "_hb" in plan  # bucket key reached the join
    assert "CartesianProduct" not in plan
    r = df.collect()[0]
    # same universe of points; votes still capped at 3 per query
    exact = QS["embedding_hubness_profile"]  # threshold restored below
    assert 0.0 <= r.mean_k_occurrence <= 3.0 + 1e-9
    assert 0.0 <= r.antihub_frac <= 1.0
    monkeypatch.undo()
    n_exact = exact(spark, sf_smoke).collect()[0].n_points
    assert r.n_points == n_exact  # blocking never drops points


def test_hubness_lsh_candidate_cap_bounds_blocks(spark, sf_smoke, monkeypatch):
    """The r8 skew valve: on the LSH arm every (label, bucket) block
    contributes at most MAX_BLOCK_CANDIDATES candidate rows — exact
    replicas share every bucket, so without the cap pair work grows with
    the square of the duplication factor. Rebuild the capped candidate
    frame exactly as the query does and assert the bound."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        auto_n_planes,
        lsh_bucket,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table

    e = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("v")
    )
    n = e.count()
    n_labels = e.agg(F.countDistinct("label")).collect()[0][0]
    planes = auto_n_planes(
        n // max(1, n_labels), gates.LSH_TARGET_BUCKET
    )
    eb = e.withColumn(
        "_hb", lsh_bucket(F.col("v"), planes, entrymod._HUBNESS_EMB_DIM)
    )
    wb = W.partitionBy("label", "_hb").orderBy(F.xxhash64("vec_id"), "vec_id")
    capped = (
        eb.withColumn("_crn", F.row_number().over(wb))
        .filter(F.col("_crn") <= gates.MAX_BLOCK_CANDIDATES)
    )
    worst = (
        capped.groupBy("label", "_hb")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.max("m"))
        .collect()[0][0]
    )
    assert worst <= gates.MAX_BLOCK_CANDIDATES
    # the cap is deterministic: same hash order on every run
    again = (
        capped.groupBy("label", "_hb")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.max("m"))
        .collect()[0][0]
    )
    assert worst == again


def test_parkinson_volatility_positive(spark, sf_smoke):
    rows = QS["window_parkinson_volatility"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.parkinson_daily > 0
        assert abs(
            r.parkinson_annualized
            - round(r.parkinson_daily * 252 ** 0.5, 4)
        ) < 0.02


def test_friedman_chi2_bounds(spark, sf_smoke):
    r = QS["agg_friedman_test"](spark, sf_smoke).collect()[0]
    assert r.k_treatments == 5
    assert r.friedman_chi2 >= 0
    # chi2 max when one segment always ranks 1 and another always 5:
    # 12/(b*k*(k+1)) * b^2 * (1+4+9+16+25) - 3b(k+1) = 4b... bounded
    assert r.friedman_chi2 <= 4.0 * r.n_blocks + 1e-6


def test_gray_code_properties(spark, sf_smoke):
    r = QS["scalar_gray_code_roundtrip"](spark, sf_smoke).collect()[0]
    assert r.n_roundtrip_ok == r.n
    # THE Gray-code property: consecutive ints differ in exactly 1 bit
    assert r.mean_hamming_consecutive == 1.0


def test_theil_u_positive(spark, sf_smoke):
    r = QS["events_theil_u_skill"](spark, sf_smoke).collect()[0]
    assert r.rmse_naive > 0 and r.rmse_seasonal_naive > 0
    assert r.theil_u > 0
    assert r.weekly_structure_helps == (r.theil_u < 1.0)


def test_logrank_consistency(spark, sf_smoke):
    r = QS["events_logrank_test"](spark, sf_smoke).collect()[0]
    assert r.logrank_chi2 >= 0
    assert 0 <= r.observed_grp1 <= r.n_events
    assert 0 <= r.expected_grp1 <= r.n_events


def test_breusch_pagan_bounds(spark, sf_smoke):
    r = QS["agg_breusch_pagan"](spark, sf_smoke).collect()[0]
    assert 0.0 <= r.r2_e2_on_x <= 1.0
    assert r.bp_stat >= 0
    assert r.heteroskedastic == (r.bp_stat > 3.8415)


def test_ccnet_buckets_partition(spark, sf_smoke):
    rows = QS["corpus_ccnet_buckets"](spark, sf_smoke).collect()
    assert rows
    buckets = {r.bucket for r in rows}
    assert buckets <= {"head", "middle", "tail"}
    # head outranks tail in mean LM score within every source that
    # has both
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.bucket] = r.mean_lm_score
    for src, d in by_src.items():
        if "head" in d and "tail" in d:
            assert d["head"] > d["tail"]
    assert all(r.token_mass > 0 for r in rows)


def test_bartlett_nonnegative(spark, sf_smoke):
    r = QS["agg_bartlett_test"](spark, sf_smoke).collect()[0]
    assert r.bartlett_chi2 >= 0
    assert r.k_groups == 5 and r.dof == 4


def test_hodges_lehmann_pairs(spark, sf_smoke):
    r = QS["agg_hodges_lehmann_shift"](spark, sf_smoke).collect()[0]
    # weighted pair count equals the product of group sizes
    assert r.n_pairs == r.n_building * r.n_automobile
    assert r.hl_shift is not None


def test_np_chart_limits(spark, sf_smoke):
    r = QS["events_np_chart"](spark, sf_smoke).collect()[0]
    assert r.lcl <= r.center_line <= r.ucl
    assert 0.0 <= r.p_bar <= 1.0
    assert r.in_control == (
        r.days_above_ucl + r.days_below_lcl == 0
    )


def test_price_index_fisher_between(spark, sf_smoke):
    rows = QS["parts_price_index"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        lo, hi = sorted([r.laspeyres, r.paasche])
        # Fisher is the geometric mean: always between L and P
        assert lo - 1e-9 <= r.fisher <= hi + 1e-9
        assert r.laspeyres > 0 and r.paasche > 0


def test_mcnemar_discordant_only(spark, sf_smoke):
    r = QS["agg_mcnemar_test"](spark, sf_smoke).collect()[0]
    assert r.only_qty_right + r.only_lines_right <= r.n
    assert r.mcnemar_chi2 >= 0


def test_newsvendor_monotone(spark, sf_smoke):
    rows = QS["orders_newsvendor_levels"](spark, sf_smoke).collect()
    assert len(rows) == 4
    levels = [r.stock_level for r in rows]
    assert levels == sorted(levels)  # higher service needs more stock
    assert all(r.safety_factor > 0 for r in rows)


def test_dataset_card_complete(spark, sf_smoke):
    rows = QS["profile_dataset_card"](spark, sf_smoke).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_rows > 0
        assert 0 < r.n_keys <= r.n_rows


def test_cochran_q_nonnegative(spark, sf_smoke):
    r = QS["agg_cochran_q_test"](spark, sf_smoke).collect()[0]
    assert r.cochran_q >= 0
    for g in (r.correct_qty_rule, r.correct_lines_rule,
              r.correct_maxprice_rule):
        assert 0 <= g <= r.n


def test_eoq_bins_bounded(spark, sf_smoke):
    rows = QS["parts_eoq_analysis"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r.orders_per_year_bin <= 4
        assert r.mean_eoq_units > 0
        assert r.mean_annual_demand > 0


def test_simpson_probe_consistency(spark, sf_smoke):
    r = QS["agg_simpson_paradox_probe"](spark, sf_smoke).collect()[0]
    assert -1.0 <= r.pooled_corr <= 1.0
    assert r.min_group_corr <= r.max_group_corr
    assert 0 <= r.groups_agreeing_with_pooled <= r.n_groups
    assert r.sign_reversal_somewhere == (
        r.groups_agreeing_with_pooled < r.n_groups
    )
