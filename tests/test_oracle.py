"""DuckDB-oracle gate as a test: every declared query must hash-match its
oracle at sf0.001 (the driver runs the same comparison at sf0.01)."""

import pytest

import __spark_entry__ as entrymod
from boann_ocsf_security_data_platform_spark.operators.cache import cache_scope
from tools.oracle_check import compare_one, duck_connect

QS = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duck_connect(sf_smoke)
    yield con
    con.close()


@pytest.fixture()
def cache_manager(spark):
    """The session's CacheManager, emptied first: each entry must leave it
    empty once its action's ``cache_scope`` closes (no cached plan leaks
    into the next entry). Checked on the CacheManager, not
    ``getPersistentRDDs``, which also counts localCheckpoint blocks the
    ContextCleaner frees asynchronously."""
    spark.catalog.clearCache()
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, sf_smoke, cache_manager, name):
    ok, issues = compare_one(spark, duck, name, QS[name], ORACLES[name], sf_smoke)
    assert ok, issues
    assert cache_manager.isEmpty(), f"{name} leaked cached plans"


@pytest.mark.parametrize("name", sorted(set(QS) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_smoke, cache_manager, name):
    with cache_scope():
        assert QS[name](spark, sf_smoke).count() >= 0
    assert cache_manager.isEmpty(), f"{name} leaked cached plans"


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) == 10


def _driver_green_prior_rounds():
    """Query names with a fully-matching row in any COMMITTED
    CORRECTNESS_r*.json (the driver's own gate output) — those entries keep
    their verification even when rotated out of the 50-row window.

    Sources files from the same `_committed_correctness_paths()` production
    uses (round-10 verdict #1): the driver writes the current round's
    artifact BEFORE it is committed, so a glob would see a file production
    (correctly) ignores and this helper would disagree with the derivation
    it is supposed to check. Parsing is re-implemented here, independent of
    `_correctness_history()`, including the null-hash rule: `hash_match:
    null` is green only for rows-only entries (no oracle by design)."""
    import json

    green = set()
    for path in entrymod._committed_correctness_paths():
        for name, row in json.load(open(path)).items():
            hash_ok = row.get("hash_match") or (
                row.get("hash_match") is None and name not in ORACLES
            )
            if row.get("rows_match") and row.get("schema_match") and hash_ok:
                green.add(name)
    return green


def test_gate_window_covers_every_family():
    """The driver's correctness gate verifies the first 50 queries() entries
    in iteration order — pin that window: it must match _GATE_ORDER exactly,
    EVERY gate entry must carry an oracle (no slot burned on a row that can
    never be green), and every operator-family prefix must have a
    representative that is either inside the window (gets a row this round)
    or already driver-green in a prior round's CORRECTNESS file."""
    names = list(QS)
    assert names[:50] == entrymod._GATE_ORDER
    assert len(set(entrymod._GATE_ORDER)) == 50
    for n in names[:50]:
        assert n in ORACLES, f"{n}: gate entries must be oracle-backed"
    prior_green = _driver_green_prior_rounds()
    covered = set(names[:50]) | prior_green
    for family in (
        "q1", "q3", "join_", "agg_", "window_", "setop_", "scalar_",
        "events_", "dedup_", "knn_", "text_", "multimodal_", "subquery_",
        "range_join_", "unpivot_", "sort_", "asof_", "embedding_", "variant_",
        "semantic_", "topk_", "pivot_", "explode_", "map_", "corpus_",
        "profile_", "feature_", "graph_",
    ):
        assert any(n.startswith(family) for n in covered), family
    # Everything outside the window is driver-verified in a prior round,
    # approximate by design (invariant-tested below), or part of the derived
    # pending backlog that fills the NEXT round's window (oracle-checked
    # every round by tools/oracle_check.py and the parametrized oracle tests
    # above regardless of window membership).
    never_verified_ok = {
        "knn_lsh_approx", "knn_ivf_approx", "approx_count_distinct",
        # GK-sketch quantiles: DuckDB's approx_quantile is a different
        # sketch; rank-error invariant pinned in test_round5_ops
        "agg_approx_percentiles",
    }
    stragglers = (
        set(names[50:])
        - prior_green
        - never_verified_ok
        - set(entrymod._PENDING_BACKLOG)
    )
    assert not stragglers, stragglers


def test_gate_window_derivation_is_hand_edit_proof():
    """Round-8 verdict item #1: the gate window is DERIVED from the
    CORRECTNESS_r*.json history, not hand-pinned. Pin the derivation's
    contract so a future refactor cannot silently re-check greens:

    - while a pending backlog exists, the window contains ONLY
      never-driver-green entries (zero slots burned re-checking greens);
    - the window is the FIRST pending entries in declaration order (the
      rotation plan every verdict since round 7 prescribes);
    - window + backlog together are exactly the never-green oracle-backed
      registry entries, each appearing once;
    - once the backlog fits inside a window, spare slots are filled by the
      oldest-green drift-guard round-robin (latest green round ascending,
      declaration-order tie-break)."""
    prior_green = _driver_green_prior_rounds()
    window = entrymod._GATE_ORDER
    backlog = entrymod._PENDING_BACKLOG
    names = [n for n in QS if n in ORACLES]
    pending = [n for n in names if n not in prior_green]
    assert window[: min(50, len(pending))] == pending[:50]
    assert backlog == pending[50:]
    if len(pending) >= 50:
        assert not set(window) & prior_green
    else:
        # drift-guard fill: greens ordered by latest green round, oldest
        # first — recompute independently and compare
        hist = entrymod._correctness_history()
        pos = {n: i for i, n in enumerate(names)}
        greens = sorted(
            (n for n in names if n in hist),
            key=lambda n: (hist[n][1], pos[n]),
        )
        assert window[len(pending):] == greens[: 50 - len(pending)]
    assert len(window) == len(set(window)) == 50
    assert not set(window) & set(backlog)

    # Untracked-artifact probe (round-10 verdict #1): the state every
    # builder session starts in is "driver artifact written, not yet
    # committed". Simulate it with an untracked round file that, if
    # visible, WOULD change the derivation (it refreshes window[0]'s
    # latest-green round, reshuffling the drift-guard fill) and assert
    # the derivation — and this test's own helper — ignore it.
    import json
    import os

    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    probe = os.path.join(root, "CORRECTNESS_r96.json")
    assert not os.path.exists(probe)
    try:
        with open(probe, "w") as fh:
            json.dump(
                {
                    window[0]: {
                        "rows_match": True,
                        "schema_match": True,
                        "hash_match": True,
                    }
                },
                fh,
            )
        rewindow, rebacklog = entrymod._derive_gate_order()
        assert rewindow == list(window)
        assert rebacklog == list(backlog)
        assert _driver_green_prior_rounds() == prior_green
    finally:
        os.remove(probe)


def test_gate_derivation_ignores_in_progress_round_file(tmp_path, monkeypatch):
    """ADVICE r9 #5: the window must derive from COMMITTED artifacts only.
    The driver writes CORRECTNESS_r{N}.json entry-by-entry mid-round, so a
    process importing the entry module mid-round (bench.py, sweep shards)
    would otherwise see a partially-written file and derive a different
    window. Two pins:

    - an untracked CORRECTNESS file next to __spark_entry__.py is invisible
      to `_committed_correctness_paths()` / `_correctness_history()`;
    - a `hash_match: null` row counts green ONLY for rows-only entries
      (not in ORACLE); for an oracle-backed entry a null hash means the
      check did not complete and must never mark it green."""
    import json
    import os

    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    probe = os.path.join(root, "CORRECTNESS_r97.json")
    assert not os.path.exists(probe)
    oracle_name = next(iter(ORACLES))
    try:
        with open(probe, "w") as fh:
            json.dump(
                {
                    oracle_name: {
                        "rows_match": True,
                        "schema_match": True,
                        "hash_match": True,
                    }
                },
                fh,
            )
        paths = entrymod._committed_correctness_paths()
        assert probe not in paths, "untracked round file leaked into derivation"
        assert paths, "committed CORRECTNESS artifacts must be found"
        assert all(os.path.basename(p).startswith("CORRECTNESS_r") for p in paths)
    finally:
        os.remove(probe)

    # null-hash strictness, via a synthetic single-artifact history
    fake = tmp_path / "CORRECTNESS_r01.json"
    fake.write_text(
        json.dumps(
            {
                oracle_name: {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": None,
                },
                "rows_only_fake_entry": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": None,
                },
            }
        )
    )
    monkeypatch.setattr(
        entrymod, "_committed_correctness_paths", lambda: [str(fake)]
    )
    hist = entrymod._correctness_history()
    assert oracle_name not in hist, "null hash on oracle-backed row counted green"
    assert hist.get("rows_only_fake_entry") == (1, 1)


def _next_window_pending_names():
    """The derived pending backlog — the entries that fill the NEXT round's
    window. Sortable-schema-checked NOW so the next rotation cannot repeat
    the r3 list-canon incident."""
    return list(entrymod._PENDING_BACKLOG)


def test_gate_window_output_is_driver_sortable(spark, sf_smoke):
    """The driver's canonicalization sorts result cells with pandas and
    cannot hash array/map/struct cells (`TypeError: unhashable type:
    'list'` burned three r3 gate rows). Guardrail: every gate-window query
    AND every declared next-round candidate must produce only atomic
    output columns. Schema analysis only — no execution."""
    from pyspark.sql import types as T

    bad = {}
    for name in [*entrymod._GATE_ORDER, *_next_window_pending_names()]:
        fields = QS[name](spark, sf_smoke).schema.fields
        complex_cols = [
            f.name
            for f in fields
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            )
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"non-driver-sortable output columns in gate window: {bad}"


def test_embedding_near_dup_requires_block():
    """block_col=None must raise, not silently cross-join (O(n²))."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    with pytest.raises(ValueError, match="blocking column"):
        embedding_near_dup_pairs(None, block_col=None)


# ---------------------------------------------------------------------------
# invariants for the approximate operators (no SQL oracle possible; the
# driver records rows-only — these properties are the correctness story)
# ---------------------------------------------------------------------------

def test_lsh_topk_subset_of_bruteforce(spark, sf_smoke):
    """Every LSH-approx neighbor must also be a brute-force neighbor pair
    with the IDENTICAL cosine (LSH only prunes candidates — it never
    invents similarity), and per-query result sets are <= k."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter("vec_id < 10")
    k = 5
    approx = cosine_topk_lsh(emb, queries, k=k).collect()
    # brute-force with k = |corpus| gives the full scored ranking
    n = emb.count()
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=n).collect()
    }
    assert len(approx) > 0
    per_query = {}
    for r in approx:
        assert (r.query_id, r.neighbor_id) in exact
        assert r.cosine == exact[(r.query_id, r.neighbor_id)]
        per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
    assert all(c <= k for c in per_query.values())


def test_approx_count_distinct_within_rsd(spark, sf_smoke):
    """HyperLogLog++ default rsd is 0.05; allow 4 sigma against the exact
    distinct count."""
    from boann_ocsf_security_data_platform_spark.sources import load_table
    from pyspark.sql import functions as F

    l = load_table(spark, sf_smoke, "lineitem")
    approx = l.agg(F.approx_count_distinct("l_orderkey")).collect()[0][0]
    exact = l.agg(F.countDistinct("l_orderkey")).collect()[0][0]
    assert abs(approx - exact) <= 4 * 0.05 * exact


def test_ivf_topk_subset_of_bruteforce(spark, sf_smoke):
    """IVF-Flat prunes via inverted lists but never invents similarity:
    every reported neighbor must be a brute-force pair with identical
    cosine; probing ALL lists must recover the exact top-k."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter("vec_id < 10")
    n = emb.count()
    exact_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=n).collect()
    }
    approx = cosine_topk_ivf(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    assert len(approx) > 0
    for r in approx:
        assert (r.query_id, r.neighbor_id) in exact_all
        assert r.cosine == exact_all[(r.query_id, r.neighbor_id)]
    # full probe == exact top-k (rank-for-rank)
    full = cosine_topk_ivf(emb, queries, k=5, n_centroids=16, n_probe=16)
    exact5 = cosine_topk(emb, queries, k=5)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in full.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in exact5.collect()}
    assert got == want


def test_percentile_approx_within_tolerance(spark, sf_smoke):
    """approx percentile lands within a small rank-error band of the exact
    percentile (accuracy parameter 10000 → ~0.01% rank error)."""
    from boann_ocsf_security_data_platform_spark.sources import load_table
    from pyspark.sql import functions as F

    l = load_table(spark, sf_smoke, "lineitem")
    row = l.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.01
