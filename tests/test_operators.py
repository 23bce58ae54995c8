"""Operator invariants on small crafted data + the sf0.001 tables."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from boann_ocsf_security_data_platform_spark.operators import (
    asof_join,
    asof_join_pandas,
    exact_dedup,
    lang_id,
    simhash16,
    text_quality,
    topk_per_group,
)
from boann_ocsf_security_data_platform_spark.operators import gates, ranks
from boann_ocsf_security_data_platform_spark.operators.dedup import (
    minhash_near_dup_pairs,
)
from boann_ocsf_security_data_platform_spark.operators.multimodal import (
    attach_binary_payload,
    extract_media_meta,
)
from boann_ocsf_security_data_platform_spark.operators.similarity import cosine_topk
from boann_ocsf_security_data_platform_spark.sources import load_table

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_COLS)


def test_exact_dedup_counts(spark):
    df = _docs(
        spark,
        [
            (1, "Hello   World", "en", "s", 11),
            (2, "hello world", "en", "s", 11),  # same after normalization
            (3, "different", "en", "s", 9),
        ],
    )
    res = {r.keep_id: r.n_copies for r in exact_dedup(df).collect()}
    assert res == {1: 2, 3: 1}


def test_minhash_finds_injected_duplicate(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    first = docs.limit(1)
    dup = first.select(
        F.lit(99990).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    pairs = minhash_near_dup_pairs(
        docs.unionByName(dup), jaccard_threshold=0.9
    ).collect()
    base = first.collect()[0].doc_id
    assert any(p.id_a == base and p.id_b == 99990 and p.jaccard == 1.0 for p in pairs)


def test_simhash_similar_docs_close(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "s", 0),
            (2, "the quick brown fox jumps over the lazy cat", "en", "s", 0),
            (3, "completely unrelated words entirely here now", "en", "s", 0),
        ],
    )
    h = {r.doc_id: r.simhash for r in simhash16(df).collect()}
    dist = lambda a, b: bin(a ^ b).count("1")
    assert dist(h[1], h[2]) < dist(h[1], h[3])


def test_cosine_topk_matches_numpy(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}

    def np_top3(qid):
        q = V[qid]
        sims = sorted(
            (
                (float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), -vid)
                for vid, v in V.items()
                if vid != qid
            ),
            reverse=True,
        )
        return [-s[1] for s in sims[:3]]

    got: dict[int, list[int]] = {}
    for r in sorted(
        cosine_topk(emb, emb.filter("vec_id < 3"), k=3).collect(),
        key=lambda r: (r.query_id, r.rank),
    ):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert all(got[q] == np_top3(q) for q in got)


def test_asof_join_backward_and_forward(spark):
    L = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10)), (1, dt.datetime(2024, 1, 1))], ["k", "t"]
    )
    R = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), "v5"),
            (1, dt.datetime(2024, 1, 9), "v9"),
            (1, dt.datetime(2024, 1, 12), "v12"),
        ],
        ["k", "rt", "val"],
    )
    back = {r.t.day: r.r_val for r in asof_join(L, R, "k", "t", "rt").collect()}
    assert back == {10: "v9", 1: None}
    fwd = {
        r.t.day: r.r_val
        for r in asof_join(L, R, "k", "t", "rt", direction="forward").collect()
    }
    assert fwd == {10: "v12", 1: "v5"}


def test_asof_join_pandas_matches_declarative(spark):
    L = spark.createDataFrame(
        [(k, dt.datetime(2024, 1, d)) for k in (1, 2) for d in (2, 6, 20)],
        ["k", "t"],
    )
    R = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), 50.0),
            (1, dt.datetime(2024, 1, 15), 150.0),
            (2, dt.datetime(2024, 1, 1), 10.0),
        ],
        ["k", "rt", "price"],
    )
    a = {(r.k, r.t): r.r_price for r in asof_join(L, R, "k", "t", "rt").collect()}
    b = {
        (r.k, r.t): r.r_price
        for r in asof_join_pandas(L, R, "k", "t", "rt").collect()
    }
    assert a == b and len(a) == 6


def test_declared_asof_query_has_no_fanout_join(spark):
    """The declared asof_join_events_orders must plan as the union +
    carry-forward window (asof_join_union, round 8): ONE window over the
    unioned sides, NO join of any kind — neither the range-join fan-out
    (every earlier right row per left row before rank-1) nor the
    per-group Python cogroup (100 s at sf1 on ~30k sparse groups)."""
    import __spark_entry__ as em

    df = em.queries()["asof_join_events_orders"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan  # no Python round-trip
    assert plan.count("Window") == 1  # one carry-forward window
    assert "Join" not in plan  # no fan-out join anywhere
    assert "Union" in plan


def test_asof_join_union_matches_pandas_and_declarative(spark):
    L = spark.createDataFrame(
        [(k, dt.datetime(2024, 1, d)) for k in (1, 2) for d in (2, 6, 20)],
        ["k", "t"],
    )
    R = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), 50.0),
            (1, dt.datetime(2024, 1, 15), 150.0),
            # equal-time boundary: a right row AT a left timestamp must be
            # visible to backward (inclusive) and to forward (inclusive)
            (2, dt.datetime(2024, 1, 6), 60.0),
        ],
        ["k", "rt", "price"],
    )
    from boann_ocsf_security_data_platform_spark.operators import asof_join_union

    for direction in ("backward", "forward"):
        a = {
            (r.k, r.t): r.r_price
            for r in asof_join(
                L, R, "k", "t", "rt", direction=direction
            ).collect()
        }
        u = {
            (r.k, r.t): r.r_price
            for r in asof_join_union(
                L, R, "k", "t", "rt", direction=direction
            ).collect()
        }
        assert a == u and len(u) == 6, direction
    # direction guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="backward/forward"):
        asof_join_union(L, R, "k", "t", "rt", direction="nearest")


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)] + [("b", 1, 5.0)],
        ["g", "i", "v"],
    )
    out = topk_per_group(df, ["g"], "v", 3)
    assert out.filter("g = 'a'").count() == 3
    assert out.filter("g = 'b'").count() == 1
    assert {r.i for r in out.filter("g = 'a'").collect()} == {7, 8, 9}


def test_lang_id_on_clear_text(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog in the house is that it for", "en", "?", 0),
            (2, "der hund und die katze ist nicht das ein mit", "de", "?", 0),
            (3, "zzz qqq www", "?", "?", 0),
        ],
    )
    out = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_media_meta_deterministic(spark):
    import hashlib

    df = _docs(spark, [(7, "some payload text", "en", "s", 17)])
    row = extract_media_meta(attach_binary_payload(df)).collect()[0]
    d = hashlib.md5(b"some payload text").hexdigest()
    assert row.media_id == 7
    assert row.byte_len == 17
    assert row.content_md5 == d
    assert row.width == 32 + (int(d[0:2], 16) % 64)
    assert row.height == 32 + (int(d[2:4], 16) % 64)


def test_quality_scores_bounded(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    stats = text_quality(docs).agg(
        F.min("quality_score"), F.max("quality_score")
    ).collect()[0]
    assert 0.0 <= stats[0] <= stats[1] <= 1.0


def test_lsh_bucket_cap_drops_degenerate_bucket(spark, sf_smoke):
    """5k identical docs form one quadratic LSH bucket; the cap drops it
    from candidate generation while normal near-dups still surface."""
    docs = load_table(spark, sf_smoke, "documents")
    one = docs.limit(1).collect()[0]
    clones = spark.range(200).select(
        (F.col("id") + 900000).alias("doc_id"),
        F.lit(one.text).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("srcHOT").alias("source"),
        F.lit(0).alias("n_chars"),
    )
    skewed = docs.unionByName(clones)
    uncapped = minhash_near_dup_pairs(skewed).count()
    capped_pairs = minhash_near_dup_pairs(skewed, max_bucket_size=50).collect()
    baseline_pairs = minhash_near_dup_pairs(docs).collect()
    assert uncapped >= 200 * 199 / 2  # quadratic clone pairs present
    # no clone pair survives the cap
    assert all(p.id_a < 900000 and p.id_b < 900000 for p in capped_pairs)
    # capped output is a subset of the uncapped baseline: only pairs whose
    # every matching band was degenerate are lost, nothing is invented
    capped_set = {(p.id_a, p.id_b) for p in capped_pairs}
    baseline_set = {(p.id_a, p.id_b) for p in baseline_pairs}
    assert capped_set <= baseline_set
    assert len(capped_set) >= 0.8 * len(baseline_set)  # bounded recall loss


def test_release_caches_frees_persisted_intermediates(spark, sf_smoke):
    """Dedup operators materialize reused subplans (shingles, LSH buckets)
    and leave their lifecycle to the caller's cache_scope: once the scope
    closes the CacheManager holds nothing (long-lived monitor sessions
    must not accumulate), and an empty scope afterwards is a no-op."""
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # drop anything earlier tests left
    docs = load_table(spark, sf_smoke, "documents")

    with cache_scope():
        minhash_near_dup_pairs(docs, jaccard_threshold=0.5).count()
        assert not cm.isEmpty()  # intermediates really were cached
    assert cm.isEmpty()

    with cache_scope():
        ngram_jaccard_pairs(docs, threshold=0.5).count()
        assert not cm.isEmpty()
    assert cm.isEmpty()
    with cache_scope():
        pass
    assert cm.isEmpty()


def test_release_all_caches_safety_valve(spark, sf_smoke):
    """With no scope open, materialize is a plain persist the caller owns:
    a later scope does not free it (nothing is kept in a process-wide
    list), and spark.catalog.clearCache(), perfbench's per-entry valve,
    frees it, derived frames whose intermediates have no handle too."""
    from boann_ocsf_security_data_platform_spark.operators import (
        cache_scope,
        materialize,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()

    def is_persisted(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    spark.catalog.clearCache()
    docs = load_table(spark, sf_smoke, "documents")
    minhash_near_dup_pairs(docs).filter("id_a >= 0").count()  # handle lost
    assert not cm.isEmpty()
    own = materialize(docs.select("doc_id"))
    with cache_scope():
        pass  # a scope frees only what was materialized inside it
    assert is_persisted(own)
    spark.catalog.clearCache()
    assert cm.isEmpty()
    assert not is_persisted(own)


def test_connected_components_known_graph(spark):
    """Path a-b-c plus pair d-e: two clusters labeled by their min id;
    path shape needs >1 propagation round (transitivity, not just direct
    pairs)."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r.node: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cluster_pairs_two_phase_converges_in_log_rounds(spark):
    """End-to-end on an adversarial 64-node chain (diameter 63): the
    two-phase path must converge within the O(log n) bound — max_iter=8 ≥
    log2(64)+1 with on_max_iter='raise' proves it actually did — and match
    the iterative variant; cluster_pairs dispatches to it explicitly and
    via the auto threshold."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        cluster_pairs,
        connected_components,
    )

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    expect = {i: 0 for i in range(n)}
    two_phase = {
        r.node: r.cluster_id
        for r in cluster_pairs(
            chain, algorithm="two_phase", max_iter=8, on_max_iter="raise"
        ).collect()
    }
    assert two_phase == expect
    # iterative agrees — but needs O(diameter)=63 rounds (the default
    # max_iter=50 is NOT enough for this chain, which is precisely why
    # two-phase is the scale path for adversarial graphs)
    iterative = {
        r.node: r.cluster_id
        for r in connected_components(chain, max_iter=100).collect()
    }
    assert iterative == expect
    # auto mode picks two-phase once the pair count crosses the threshold
    auto = {
        r.node: r.cluster_id
        for r in cluster_pairs(
            chain, two_phase_pair_threshold=10, max_iter=8, on_max_iter="raise"
        ).collect()
    }
    assert auto == expect


def test_connected_components_unconverged_raises_when_asked(spark):
    """Exhausting max_iter without convergence must not silently return
    split clusters: on_max_iter='raise' raises, the default warns."""
    import pytest

    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="before converging"):
        connected_components(chain, max_iter=2, on_max_iter="raise")
    # default path: returns (possibly split) labels without raising
    assert connected_components(chain, max_iter=2).count() == 21


def test_minhash_fast_hash_path(spark, sf_smoke):
    """The xxhash64 production path (hash_fn=hash64_fast) keeps the LSH
    guarantee — every exact-duplicate pair is a candidate under BOTH hash
    families (identical shingle sets collide regardless of the hash), and
    the fast path verifies jaccard=1.0 for them."""
    import re
    from collections import defaultdict

    from boann_ocsf_security_data_platform_spark.functions.hash_fns import (
        hash64_fast,
    )
    from boann_ocsf_security_data_platform_spark.operators import cache_scope

    base_docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    # inject exact duplicates: copies of three docs under fresh ids
    originals = base_docs.orderBy("doc_id").limit(3).collect()
    clones = spark.createDataFrame(
        [(900_000 + i, r.text) for i, r in enumerate(originals)],
        "doc_id long, text string",
    )
    docs = base_docs.unionByName(clones)
    # ground truth: exact-duplicate pairs by normalized text
    groups = defaultdict(list)
    for r in docs.collect():
        groups[re.sub(r"\s+", " ", r.text.lower()).strip()].append(r.doc_id)
    dup_pairs = {
        (a, b)
        for ids in groups.values()
        for a in ids
        for b in ids
        if a < b
    }
    assert len(dup_pairs) >= 3

    with cache_scope():
        fast = minhash_near_dup_pairs(
            docs, hash_fn=hash64_fast, jaccard_threshold=0.99
        )
        got_fast = {(r.id_a, r.id_b) for r in fast.collect()}
    assert dup_pairs <= got_fast

    with cache_scope():
        base = minhash_near_dup_pairs(docs, jaccard_threshold=0.99)
        got_base = {(r.id_a, r.id_b) for r in base.collect()}
    assert dup_pairs <= got_base


def test_decontaminate_removes_ngram_overlap(spark):
    """Known contamination: the corpus doc sharing a 3-gram with the
    benchmark is dropped, the clean doc survives, short docs fall back to
    whole-text matching."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "tiny")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday"),  # shares a 3-gram
            (2, "completely unrelated clean document text"),
            (3, "tiny"),  # whole-text match with the short benchmark doc
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in decontaminate(corpus, bench).collect()}
    assert kept == {2}


def test_quantize_dequantize_error_bound(spark, sf_smoke):
    """Int8 quantization round-trip: every reconstructed component within
    scale/2 of the original (+fp eps); constant vectors reconstruct
    exactly; quantized values stay in [-127, 127]."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_smoke, "embeddings").limit(50)
    const = spark.createDataFrame(
        [(999_000, [0.5] * 8, 0)], "vec_id long, embedding array<float>, label int"
    )
    both = emb.select("vec_id", "embedding", "label").unionByName(const)
    rt = dequantize_embeddings(quantize_embeddings(both)).collect()
    assert len(rt) == 51
    for r in rt:
        assert all(-127 <= q <= 127 for q in r.q_vec)
        for orig, dq in zip(r.embedding, r.embedding_dq):
            assert abs(dq - orig) <= r.q_scale / 2 + 1e-9
        if r.vec_id == 999_000:
            assert r.q_scale == 0.0
            assert all(abs(dq - 0.5) < 1e-6 for dq in r.embedding_dq)


def test_label_centroids_match_hand_computed(spark):
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        label_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    got = {
        r.label: (r.centroid, r.n_members)
        for r in label_centroids(df, dim=2).collect()
    }
    assert got[0] == ([2.0, 3.0], 2)
    assert got[1] == ([10.0, 20.0], 1)


def test_pack_sequences_invariants(spark):
    """Offsets stay inside the context window, packs fill in shard order,
    and the exclusive prefix sum reconstructs: offset(i) ==
    (offset(i-1) + n_tokens(i-1)) mod ctx within a shard."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        pack_sequences,
    )

    rows = [(i, " ".join(["w"] * (3 + i % 5)), "s%d" % (i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sorted(
        pack_sequences(df, ctx_len=10).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    by_shard: dict = {}
    for r in out:
        assert 0 <= r.pack_offset < 10
        prev = by_shard.get(r.source)
        if prev is not None:
            cum_prev = prev.pack_id * 10 + prev.pack_offset
            assert r.pack_id * 10 + r.pack_offset == cum_prev + prev.n_tokens
            assert r.pack_id >= prev.pack_id  # packs only move forward
        by_shard[r.source] = r
    # both shards start at pack 0 offset 0
    firsts = [r for r in out if by_shard[r.source] and r.doc_id in (0, 1)]
    assert all(r.pack_id == 0 and r.pack_offset == 0 for r in firsts)


def test_vocabulary_counts_and_tiebreak(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        "doc_id long, text string",
    )
    rows = vocabulary(df, top_n=2).collect()
    # apple: 3 occurrences / 2 docs; banana: 2 / 2; cherry cut by top_n
    assert [(r.token, r.n_occurrences, r.doc_freq) for r in rows] == [
        ("apple", 3, 2),
        ("banana", 2, 2),
    ]


def test_deterministic_shuffle_reproducible_and_seed_sensitive(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        deterministic_shuffle,
    )

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    e0a = [r.doc_id for r in deterministic_shuffle(df, seed="epoch0").collect()]
    e0b = [r.doc_id for r in deterministic_shuffle(df, seed="epoch0").collect()]
    e1 = [r.doc_id for r in deterministic_shuffle(df, seed="epoch1").collect()]
    assert e0a == e0b  # replayable
    assert e0a != e1  # epochs reshuffle
    assert e0a != sorted(e0a)  # actually shuffled
    assert sorted(e0a) == sorted(e1) == list(range(200))  # a permutation


def test_cache_scope_releases_even_for_derived_frames(spark, sf_smoke):
    """cache_scope releases everything materialized inside it, so deriving
    from an operator's result cannot leak: its caches go on exit,
    including on exception; nested scopes free only their own
    frames; a frame another thread materializes is that thread's and
    survives. Asserts on the CacheManager and the frames' storage levels,
    not the JVM-global persistent-RDD count (localCheckpoint blocks and
    the async ContextCleaner make that count racy)."""
    import threading

    import pytest
    from boann_ocsf_security_data_platform_spark.operators import (
        cache_scope,
        materialize,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()

    def is_persisted(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    spark.catalog.clearCache()  # drop anything earlier tests left
    docs = load_table(spark, sf_smoke, "documents")
    with cache_scope():
        minhash_near_dup_pairs(docs, jaccard_threshold=0.5).filter(
            "id_a >= 0"
        ).count()
        assert not cm.isEmpty()  # intermediates really were cached
    assert cm.isEmpty()  # released despite the derived frame

    # exception path still releases
    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope():
            minhash_near_dup_pairs(docs).count()
            assert not cm.isEmpty()
            raise RuntimeError("boom")
    assert cm.isEmpty()

    # nesting: the inner scope only frees its own frames (distinct plans —
    # identical plans share one CacheManager entry)
    with cache_scope():
        outer = materialize(docs.select("doc_id"))
        with cache_scope():
            inner = materialize(docs.select("text"))
            assert is_persisted(inner)
        assert not is_persisted(inner) and is_persisted(outer)
    assert not is_persisted(outer)

    # per thread: a frame another thread materializes (a foreachBatch
    # thread, say) is not released by this thread's scope
    other = []
    with cache_scope():
        t = threading.Thread(
            target=lambda: other.append(materialize(docs.select("source")))
        )
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    assert is_persisted(other[0])
    other[0].unpersist(blocking=True)
    assert cm.isEmpty()


def test_auto_n_planes_holds_bucket_size_across_decades(spark):
    """semantic_dedup's default plane count derives from the corpus size so
    expected bucket sizes stay ~constant across 10× growth — no caller
    changes needed as data scales."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        auto_n_planes,
        lsh_bucket,
    )

    # formula invariant: expected bucket size in (target/2, target] for
    # every corpus size above the target, across six decades
    for n in (10**4, 10**5, 10**6, 10**7, 10**8, 10**9):
        p = auto_n_planes(n, target_bucket_size=4096)
        assert 4096 / 2 < n / (1 << p) <= 4096, (n, p)
    assert auto_n_planes(100, target_bucket_size=4096) == 1  # floor
    assert auto_n_planes(10**12, target_bucket_size=1) == 24  # cap

    # measured invariant: real bucketing at n and 10n keeps the MEAN
    # occupied-bucket size in the same band without changing the call
    dim = 8
    for n in (2000, 20000):
        vecs = spark.range(n).select(
            F.col("id"),
            F.array(
                *[
                    (F.hash(F.col("id"), F.lit(d)) % 1000) / 500.0 - 1
                    for d in range(dim)
                ]
            ).alias("v"),
        )
        p = auto_n_planes(n, target_bucket_size=500)
        sizes = (
            vecs.select(lsh_bucket(F.col("v"), p, dim).alias("b"))
            .groupBy("b")
            .count()
        )
        mean = sizes.agg(F.avg("count")).first()[0]
        assert 500 / 4 <= mean <= 500, (n, p, mean)


def test_semantic_dedup_auto_planes_matches_pinned_on_small_corpus(
    spark, sf_smoke
):
    """On a corpus below target_bucket_size the derived plane count is the
    floor (1) — semantic_dedup(None) must equal semantic_dedup(n_planes=1)
    row-for-row (the auto path changes blocking granularity, never
    semantics beyond candidate recall)."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    auto = {r.vec_id for r in semantic_dedup(emb, threshold=0.3).collect()}
    pinned = {
        r.vec_id
        for r in semantic_dedup(emb, threshold=0.3, n_planes=1).collect()
    }
    assert auto == pinned


def test_containment_pairs_matches_bruteforce(spark):
    """Directional containment from the shingle equi-join must equal the
    brute-force |A∩B|/|A| over word-3-gram shingle sets at every
    threshold; the stop-gram valve may only LOSE pairs, never invent."""
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        containment_pairs,
    )

    docs = [
        (1, "a b c d e f", "en", "s", 11),
        (2, "x x a b c d e f y z", "en", "s", 19),  # contains doc 1
        (3, "p q r s", "en", "s", 7),               # disjoint
        (4, "a b c d e f", "en", "s", 11),          # exact dup of 1
        (5, "c d e f g h i", "en", "s", 13),        # overlaps 1 partially
    ]
    df = _docs(spark, docs)

    def sh(text, k=3):
        ws = text.split()
        if len(ws) >= k:
            return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}
        return {text}

    def brute(threshold):
        sets = {i: sh(t) for i, t, *_ in docs}
        out = {}
        for i in sets:
            for j in sets:
                if i != j:
                    c = round(len(sets[i] & sets[j]) / len(sets[i]), 6)
                    if c >= threshold:
                        out[(i, j)] = c
        return out

    for t in (0.5, 0.8, 1.0):
        with cache_scope():
            res = containment_pairs(df, threshold=t)
            got = {(r.id_a, r.id_b): r.containment for r in res.collect()}
        assert got == brute(t), f"threshold {t}"

    # valve: capping shingle document-frequency can only drop pairs
    with cache_scope():
        res = containment_pairs(df, threshold=0.5, max_shingle_df=2)
        capped = {(r.id_a, r.id_b) for r in res.collect()}
    assert capped <= set(brute(0.5))


def test_bigram_lm_score_known_values(spark):
    """Hand-computed add-1 bigram LM on a 3-doc corpus; short docs get
    NULL score and 0 bigrams; gibberish scores below fluent repetition."""
    import math

    from boann_ocsf_security_data_platform_spark.operators.text import (
        bigram_lm_score,
    )

    df = _docs(
        spark,
        [
            (1, "a b a b", "en", "s", 7),
            (2, "c d", "en", "s", 3),
            (3, "x", "en", "s", 1),
        ],
    )
    got = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    # corpus: C(a b)=2, C(b a)=1, C(c d)=1; ctx a=2, b=1, c=1; V=5 (a b c d x)
    v = 5.0
    d1 = (2 * math.log((2 + 1) / (2 + v)) + 1 * math.log((1 + 1) / (1 + v))) / 3
    d2 = math.log((1 + 1) / (1 + v))
    assert got[1].n_bigrams == 3 and abs(got[1].lm_score - round(d1, 6)) < 1e-9
    assert got[2].n_bigrams == 1 and abs(got[2].lm_score - round(d2, 6)) < 1e-9
    assert got[3].n_bigrams == 0 and got[3].lm_score is None
    # fluent repetition outscores an unseen-transition doc
    assert got[1].lm_score > got[2].lm_score


def test_kmeans_training_improves_and_keeps_ivf_invariants(spark, sf_smoke):
    """Lloyd iterations must not decrease the assignment objective (mean
    nearest-centroid cosine), training is deterministic, and the trained
    model plugged into cosine_topk_ivf keeps the full-probe == exact
    invariant (holds for ANY centroid set)."""
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        cosine_sim,
        cosine_topk,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_smoke, "embeddings")

    def objective(cents):
        best = F.greatest(
            *[
                F.round(
                    cosine_sim(
                        F.col("embedding"),
                        F.array(*[F.lit(float(x)) for x in vec]),
                    ),
                    6,
                )
                for _, vec in cents
            ]
        )
        return emb.agg(F.avg(best)).first()[0]

    seed = train_ivf_centroids(emb, k=8, iters=0)
    one = train_ivf_centroids(emb, k=8, iters=1)
    three = train_ivf_centroids(emb, k=8, iters=3)
    # plain-mean recompute is spherical k-means up to member-norm weighting
    # (the centroid norm cancels inside cosine), so the objective is
    # monotone up to that weighting — allow a whisker of slack
    assert objective(one) >= objective(seed) - 1e-6
    assert objective(three) >= objective(one) - 1e-6
    assert three == train_ivf_centroids(emb, k=8, iters=3)  # deterministic
    assert all(len(vec) == 64 for _, vec in three) and len(three) <= 8

    queries = emb.filter("vec_id < 10")
    n = emb.count()
    exact_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=n).collect()
    }
    approx = cosine_topk_ivf(
        emb, queries, k=5, n_probe=2, centroids=three
    ).collect()
    assert len(approx) > 0
    for r in approx:
        assert r.cosine == exact_all[(r.query_id, r.neighbor_id)]
    full = cosine_topk_ivf(emb, queries, k=5, n_probe=len(three), centroids=three)
    exact5 = cosine_topk(emb, queries, k=5)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in full.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in exact5.collect()}
    assert got == want


def test_dsir_importance_prefers_target_like_docs(spark):
    """A corpus document sharing the target's bigram features must
    out-weigh a disjoint-vocabulary one; <2-token docs get 0 features and
    NULL weight; weights are deterministic."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        dsir_importance,
    )

    target = _docs(
        spark,
        [
            (100, "spark shuffle join spark shuffle join", "en", "t", 38),
            (101, "broadcast join shuffle partition", "en", "t", 32),
        ],
    )
    corpus = _docs(
        spark,
        [
            (1, "spark shuffle join broadcast join", "en", "s", 33),
            (2, "banana apple cherry mango papaya", "en", "s", 32),
            (3, "one", "en", "s", 3),
        ],
    )
    got = {r.doc_id: r for r in dsir_importance(corpus, target).collect()}
    assert got[1].dsir_logweight > got[2].dsir_logweight
    assert got[3].n_feats == 0 and got[3].dsir_logweight is None
    again = {r.doc_id: r for r in dsir_importance(corpus, target).collect()}
    assert {k: (v.n_feats, v.dsir_logweight) for k, v in got.items()} == {
        k: (v.n_feats, v.dsir_logweight) for k, v in again.items()
    }


def test_sniff_image_meta_real_headers(spark):
    """Header sniffing decodes real container bytes — a crafted PNG IHDR,
    GIF screen descriptor, JPEG SOF0 walk, BMP info header — and NULLs
    unknown formats instead of failing the batch."""
    import struct

    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        sniff_image_meta,
    )

    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(
        ">IIBBBBB", 640, 480, 8, 6, 0, 0, 0
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    # JPEG: SOI, APP0 (len 16), SOF0 (len 17) with height 2000 width 3000
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 2000, 3000) + b"\x03" + b"\x00" * 9
    )
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 101, -55) + b"\x00" * 4
    rows = [(1, png), (2, gif), (3, jpeg), (4, bmp), (5, b"not an image")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: (r.format, r.width, r.height)
        for r in sniff_image_meta(df).collect()
    }
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("gif", 320, 200)
    assert got[3] == ("jpeg", 3000, 2000)
    assert got[4] == ("bmp", 101, 55)  # negative height = top-down BMP
    assert got[5] == (None, None, None)


def test_sniff_jpeg_padding_and_standalone_markers(spark):
    """Valid JPEGs may pad with 0xFF fill bytes before a marker and contain
    length-less standalone markers (TEM, RSTn) — the SOF walk must step over
    both instead of misreading a length and returning NULL dimensions."""
    import struct

    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        sniff_image_meta,
    )

    jpeg_padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff"  # fill bytes before the next marker
        + b"\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\x01"  # TEM: standalone, no length
        + b"\xff\xd0"  # RST0: standalone, no length
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9
    )
    df = spark.createDataFrame(
        [(1, jpeg_padded)], "media_id long, payload binary"
    )
    got = sniff_image_meta(df).collect()[0]
    assert (got.format, got.width, got.height) == ("jpeg", 640, 480)


def test_byte_histogram_counts(spark):
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        byte_histogram,
    )

    df = spark.createDataFrame(
        [(1, b"aabc"), (2, b"")], "media_id long, payload binary"
    )
    got = {r.media_id: r.histogram for r in byte_histogram(df).collect()}
    assert len(got[1]) == 256
    assert got[1][ord("a")] == 2 and got[1][ord("b")] == 1 and got[1][ord("c")] == 1
    assert sum(got[1]) == 4
    assert sum(got[2]) == 0


def test_frame_sample_raw_frames(spark):
    """One payload row fans out to one row per sampled frame; trailing
    partial frame dropped."""
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        frame_sample,
    )

    payload = bytes(range(10)) * 5 + b"\xff"  # 5 full 10-byte frames + tail
    df = spark.createDataFrame([(7, payload)], "media_id long, payload binary")
    got = sorted(
        (r.frame_idx, bytes(r.frame))
        for r in frame_sample(df, frame_size=10, every_n=2).collect()
    )
    assert [i for i, _ in got] == [0, 2, 4]
    assert all(f == bytes(range(10)) for _, f in got)


def test_range_join_binned_equals_theta(spark, sf_smoke):
    """The binned range join must return exactly the rows of the plain
    theta join (binning only routes, never changes the predicate)."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        range_join_binned,
    )

    e = load_table(spark, sf_smoke, "events")
    pts = e.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("p_ts"), "event_id"
    )
    spans = e.filter("event_type = 'signup'").select(
        "user_id",
        F.col("event_id").alias("span_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    binned = {
        (r.event_id, r.span_id)
        for r in range_join_binned(
            pts, spans, "user_id", "p_ts", "w_start", "w_end", bin_seconds=1800
        ).collect()
    }
    theta = {
        (r.event_id, r.span_id)
        for r in pts.join(
            spans,
            (pts.user_id == spans.user_id)
            & (F.col("w_start") <= F.col("p_ts"))
            & (F.col("p_ts") < F.col("w_end")),
        ).collect()
    }
    assert binned == theta and len(theta) > 0


def test_stratified_sample_proportions(spark, sf_smoke):
    """sampleBy keeps ~fraction per stratum and drops unlisted strata."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        stratified_sample,
    )

    e = load_table(spark, sf_smoke, "events")
    frac = {"click": 0.5, "error": 1.0}
    out = stratified_sample(e, "event_type", frac, seed=7)
    got = {r.event_type: r.n for r in
           out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r.event_type: r.n for r in
            e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) == {"click", "error"}  # unlisted strata dropped
    assert got["error"] == base["error"]  # fraction 1.0 keeps all
    assert 0.3 * base["click"] < got["click"] < 0.7 * base["click"]


def test_redact_pii_crafted(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import redact_pii

    df = _docs(
        spark,
        [
            (1, "mail me at jane.doe+x@example.co.uk or call 555-123-4567", "en", "s", 0),
            (2, "ssn 123-45-6789 from host 192.168.10.1", "en", "s", 0),
            (3, "nothing sensitive here", "en", "s", 0),
        ],
    )
    got = {r.doc_id: r.text_redacted for r in redact_pii(df).collect()}
    assert got[1] == "mail me at [EMAIL] or call [PHONE]"
    assert got[2] == "ssn [SSN] from host [IPV4]"
    assert got[3] == "nothing sensitive here"


def test_connected_components_two_phase_matches_min_label(spark):
    """Large-star/small-star must agree with min-label propagation on a
    long path (worst case for min-label), a clique, and a random graph."""
    import random

    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        connected_components,
        connected_components_two_phase,
    )

    rng = random.Random(42)
    path = [(i, i + 1) for i in range(20, 40)]  # 20-node chain
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    rand = [
        (rng.randrange(100, 140), rng.randrange(100, 140)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in path + clique + rand if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    two_phase = {
        r.node: r.cluster_id
        for r in connected_components_two_phase(pairs).collect()
    }
    min_label = {
        r.node: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert two_phase == min_label
    assert two_phase[39] == 20  # chain end reaches the chain min


def test_resize_raw_nearest_neighbor(spark):
    import numpy as np

    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        resize_raw,
    )

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)  # 4x4 gradient
    rows = [(1, img.tobytes()), (2, b"wrong length")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in resize_raw(df, 4, 4, factor=2).collect()}
    assert (got[1].out_w, got[1].out_h) == (2, 2)
    out = np.frombuffer(bytes(got[1].pixels), dtype=np.uint8).reshape(2, 2)
    assert (out == img[::2, ::2]).all()  # rows 0,2 / cols 0,2
    assert got[2].pixels is None  # malformed payload -> NULL, not a crash


def test_repetition_metrics_known_answers(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import (
        repetition_metrics,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # heavy repetition: grams a-b,b-a,a-b,b-a
            (2, "x y z"),           # all unique words, unique grams
            (3, "w"),               # single word: no grams
            (4, ""),                # empty
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_metrics(df).collect()}
    # doc 1: 5 words, 2 distinct -> dup_word_frac = 1 - 2/5 = 0.6
    assert got[1].n_words == 5 and abs(got[1].dup_word_frac - 0.6) < 1e-9
    # all 4 gram instances ("a b" x2, "b a" x2) are duplicates
    assert abs(got[1].dup_2gram_frac - 1.0) < 1e-9
    # top gram covers 2 copies x 3 chars / 9 norm chars
    assert abs(got[1].top_2gram_cover - 6 / 9) < 1e-6
    assert got[2].dup_word_frac == 0.0 and got[2].dup_2gram_frac == 0.0
    assert got[3].n_words == 1 and got[3].dup_2gram_frac == 0.0
    assert got[4].n_words == 0 and got[4].top_2gram_cover == 0.0


def test_chunk_documents_overlap_and_tail(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import (
        chunk_documents,
    )

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "only two"), (3, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, size=4, stride=2).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # starts 1,3,5,7,9 -> 5 chunks; all full except the last (w8 w9)
    assert [r.n_tokens for r in c1] == [4, 4, 4, 4, 2]
    assert c1[0].chunk_text == "w0 w1 w2 w3"
    assert c1[1].chunk_text == "w2 w3 w4 w5"  # stride-2 overlap
    assert c1[-1].chunk_text == "w8 w9"
    # short doc -> one chunk; empty doc -> no chunks
    assert [r.chunk_text for r in by_doc[2]] == ["only two"]
    assert 3 not in by_doc


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [
            (1, "common rare common"),
            (2, "common other"),
            (3, "common third"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=2).collect()
    top1 = {r.rank: r for r in out if r.doc_id == 1}
    # doc 1: score(common) = 2*(ln(4/4)+1) = 2.0 beats
    #        score(rare)   = 1*(ln(4/2)+1) ≈ 1.693
    assert [top1[r].term for r in sorted(top1)] == ["common", "rare"]
    assert top1[1].score >= top1[2].score
    from collections import Counter

    per_doc = Counter(r.doc_id for r in out)
    assert all(v <= 2 for v in per_doc.values())


def test_semantic_dedup_keeps_min_id_per_group(spark):
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        semantic_dedup,
    )

    # two exact-duplicate groups + one singleton, in 4-d space
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),   # dup of 1
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 1),   # dup of 3
        (5, [0.0, 0.0, 1.0, 0.0], 2),   # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    kept = sorted(
        r.vec_id for r in semantic_dedup(df, threshold=0.99, dim=4).collect()
    )
    assert kept == [1, 3, 5]


def test_train_val_test_split_deterministic_and_exhaustive(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        train_val_test_split,
    )

    df = _docs(
        spark,
        [(i, f"doc {i}", "en", "s", 5) for i in range(200)],
    )
    out = train_val_test_split(df, id_col="doc_id")
    rows = {r.doc_id: r.split for r in out.collect()}
    # every row assigned, only the declared labels
    assert len(rows) == 200
    assert set(rows.values()) <= {"train", "val", "test"}
    # roughly 80/10/10 (hash buckets are uniform; wide tolerance on n=200)
    from collections import Counter

    c = Counter(rows.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]
    # deterministic: same assignment after a reshuffle of the input
    again = {
        r.doc_id: r.split
        for r in train_val_test_split(
            df.repartition(7), id_col="doc_id"
        ).collect()
    }
    assert again == rows
    # different seed → different assignment for at least one row
    moved = {
        r.doc_id: r.split
        for r in train_val_test_split(df, id_col="doc_id", seed="other").collect()
    }
    assert moved != rows


def test_sample_k_per_group_budget_and_determinism(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        sample_k_per_group,
    )

    rows = [(i, f"t{i}", "en", "big" if i < 50 else "small", 2) for i in range(55)]
    df = _docs(spark, rows)
    out = sample_k_per_group(df, group_col="source", k=8, id_col="doc_id")
    got = sorted((r.source, r.doc_id) for r in out.collect())
    from collections import Counter

    per = Counter(s for s, _ in got)
    assert per["big"] == 8           # capped at the budget
    assert per["small"] == 5         # min(k, group size)
    # deterministic under repartitioning
    again = sorted(
        (r.source, r.doc_id)
        for r in sample_k_per_group(
            df.repartition(9), group_col="source", k=8, id_col="doc_id"
        ).collect()
    )
    assert again == got


def test_ngram_counts_known_answers(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import ngram_counts

    df = _docs(
        spark,
        [
            (1, "a b c a b", "en", "s", 9),
            (2, "a  B", "en", "s", 4),     # normalization folds case/space
            (3, "solo", "en", "s", 4),     # shorter than n → contributes none
        ],
    )
    bi = {
        r.ngram: r.n_occurrences for r in ngram_counts(df, n=2).collect()
    }
    assert bi == {"a b": 3, "b c": 1, "c a": 1}
    tri = {
        r.ngram: r.n_occurrences for r in ngram_counts(df, n=3).collect()
    }
    assert tri == {"a b c": 1, "b c a": 1, "c a b": 1}
    top = ngram_counts(df, n=2, top_k=1).collect()
    assert [(r.ngram, r.n_occurrences) for r in top] == [("a b", 3)]


def test_prefix_filter_jaccard_matches_bruteforce(spark):
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon", "en", "s", 30),
        (2, "alpha beta gamma delta zeta", "en", "s", 27),     # J=4/6 vs 1
        (3, "alpha beta gamma delta epsilon", "en", "s", 30),  # J=1.0 vs 1
        (4, "omega psi chi", "en", "s", 13),                   # disjoint-ish
        (5, "omega psi chi phi", "en", "s", 17),               # J=3/4 vs 4
        (6, "unrelated words entirely here", "en", "s", 28),
    ]
    df = _docs(spark, docs)

    def brute(threshold):
        sets = {i: set(t.lower().split()) for i, t, *_ in docs}
        out = {}
        ids = sorted(sets)
        for i in ids:
            for j in ids:
                if i < j:
                    inter = len(sets[i] & sets[j])
                    jac = inter / len(sets[i] | sets[j])
                    if jac >= threshold:
                        out[(i, j)] = round(jac, 6)
        return out

    for t in (0.5, 0.66, 0.75, 1.0):
        with cache_scope():
            res = prefix_filter_jaccard_pairs(df, threshold=t)
            got = {(r.id_a, r.id_b): r.jaccard for r in res.collect()}
        assert got == brute(t), f"threshold {t}"


def test_weighted_sample_deterministic_and_bounded(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        weighted_sample,
    )

    rows = [(i, f"d{i}", "en", "s", (i % 10) + 1) for i in range(100)]
    rows.append((100, "zero", "en", "s", 0))    # weight 0 → never sampled
    rows.append((101, "neg", "en", "s", -3))    # negative → never sampled
    df = _docs(spark, rows)
    out = sorted(
        r.doc_id
        for r in weighted_sample(
            df, id_col="doc_id", weight_col="n_chars", k=20
        ).collect()
    )
    assert len(out) == 20
    assert 100 not in out and 101 not in out
    again = sorted(
        r.doc_id
        for r in weighted_sample(
            df.repartition(11), id_col="doc_id", weight_col="n_chars", k=20
        ).collect()
    )
    assert again == out
    # heavier rows should dominate: mean weight of the sample exceeds the
    # population mean (weights 1..10 uniform → pop mean 5.5)
    wts = {i: (i % 10) + 1 for i in range(100)}
    assert sum(wts[i] for i in out) / 20 > 5.5


def test_zorder_key_interleaves_known_bits(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import zorder_key

    df = spark.createDataFrame([(2, 1), (3, 3), (0, 0)], "a int, b int")
    out = {
        (r.a, r.b): r.z
        for r in df.withColumn(
            "z", zorder_key(["a", "b"], mins=[0, 0], maxs=[3, 3], bits=2)
        ).collect()
    }
    # col a owns odd bit positions, col b even: a=10,b=01 → 1001 = 9
    assert out[(2, 1)] == 0b1001
    assert out[(3, 3)] == 0b1111
    assert out[(0, 0)] == 0


def test_zorder_write_enables_multi_column_file_skipping(spark, tmp_path):
    import pyarrow.parquet as pq
    import glob as globmod
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        zorder_write,
    )

    n = 20000
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") % 1000).cast("int"))
        .withColumn("y", ((F.col("id") * 7919) % 1000).cast("int"))
    )
    zpath, xpath = str(tmp_path / "zorder"), str(tmp_path / "xsort")
    zorder_write(df, zpath, cols=["x", "y"], n_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )

    def files_overlapping(path, col, lo, hi):
        hit = total = 0
        for f in globmod.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            total += 1
            if mx >= lo and mn <= hi:
                hit += 1
        return hit, total

    # single-column sort: y ranges span everything — no pruning on y
    yhit_x, ytot_x = files_overlapping(xpath, "y", 500, 510)
    assert yhit_x == ytot_x
    # z-order: BOTH columns narrow per file — a y point-range touches a
    # strict subset of files, and x keeps locality too
    yhit_z, ytot_z = files_overlapping(zpath, "y", 500, 510)
    xhit_z, _ = files_overlapping(zpath, "x", 500, 510)
    assert yhit_z < ytot_z / 2, (yhit_z, ytot_z)
    assert xhit_z < ytot_z / 2, (xhit_z, ytot_z)


def test_zorder_write_all_null_column_degrades_gracefully(spark, tmp_path):
    """An entirely-NULL z-order column has no min/max — it must map to the
    degenerate bucket (span 0) instead of raising on float(None)."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        zorder_write,
    )

    df = (
        spark.range(100)
        .withColumn("x", (F.col("id") % 10).cast("int"))
        .withColumn("y", F.lit(None).cast("int"))
    )
    path = str(tmp_path / "znull")
    zorder_write(df, path, cols=["x", "y"], n_files=4)
    assert spark.read.parquet(path).count() == 100


def test_hll_sketches_merge_like_one_big_aggregate(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        distinct_sketches,
        merge_distinct_sketches,
    )

    # 40k events, 1200 distinct users, across 10 days
    df = (
        spark.range(40000)
        .withColumn("day", (F.col("id") % 10).cast("int"))
        .withColumn("user", (F.col("id") % 1200).cast("long"))
    )
    daily = distinct_sketches(df, ["day"], "user", lg_k=14)
    assert daily.count() == 10

    # per-day estimates close to the exact per-day distincts
    est = {r.day: r.approx_distinct for r in merge_distinct_sketches(daily, ["day"]).collect()}
    exact = {
        r.day: r.d
        for r in df.groupBy("day").agg(F.countDistinct("user").alias("d")).collect()
    }
    for d in exact:
        assert abs(est[d] - exact[d]) / exact[d] < 0.05, (d, est[d], exact[d])

    # union of daily sketches ≈ global distinct (the whole point: rollup
    # from persisted sketches without touching raw data)
    top = merge_distinct_sketches(daily).first()
    assert abs(top.approx_distinct - 1200) / 1200 < 0.05
    assert top.n_rows == 40000


def test_profile_columns_exact_and_approx(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 30.0)], "a int, b double"
    )
    exact = {
        r.column_name: r
        for r in profile_columns(df, ["a", "b"], approx=False).collect()
    }
    assert exact["a"].n_rows == 4 and exact["a"].n_nulls == 0
    assert exact["a"].n_distinct == 4
    assert (exact["a"].min_val, exact["a"].max_val) == (1.0, 4.0)
    assert exact["b"].n_nulls == 1 and exact["b"].n_distinct == 2
    assert (exact["b"].min_val, exact["b"].max_val) == (10.0, 30.0)
    # approx mode: same shape, HLL counts near exact on tiny input
    approx = {
        r.column_name: r for r in profile_columns(df, ["a", "b"]).collect()
    }
    assert approx["a"].n_distinct == 4 and approx["b"].n_distinct == 2


def test_profile_columns_rejects_non_identifier_names(spark):
    """Column names are interpolated into the stack() expr — quoted or
    special-character names must be rejected, not break the SQL."""
    import pytest
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        profile_columns,
    )

    df = spark.createDataFrame([(1,)], "a int").withColumnRenamed("a", "a'b")
    with pytest.raises(ValueError, match="non-identifier"):
        profile_columns(df, ["a'b"])


def _wav_bytes(channels=2, rate=8000, n_frames=100, bits=16):
    import struct

    block = channels * bits // 8
    data = b"".join(
        struct.pack("<" + "h" * channels, *[(k * 31) % 1000] * channels)
        for k in range(n_frames)
    )
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_sniff_audio_meta_wav_roundtrip(spark):
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        sniff_audio_meta,
    )

    rows = [
        (1, bytearray(_wav_bytes(channels=2, rate=8000, n_frames=100))),
        (2, bytearray(_wav_bytes(channels=1, rate=44100, n_frames=44100))),
        (3, bytearray(b"not audio at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in sniff_audio_meta(df).collect()}
    assert got[1].format == "wav-pcm" and got[1].n_channels == 2
    assert got[1].sample_rate_hz == 8000 and got[1].bits_per_sample == 16
    assert got[1].n_frames == 100 and got[1].duration_ms == 12  # 100/8000 s
    assert got[2].n_frames == 44100 and got[2].duration_ms == 1000
    assert got[3].format is None and got[3].n_frames is None


def test_audio_sample_pcm_extracts_first_channel(spark):
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        audio_sample_pcm,
    )

    df = spark.createDataFrame(
        [
            (1, bytearray(_wav_bytes(channels=2, rate=8000, n_frames=64))),
            (2, bytearray(b"junk")),
        ],
        "media_id long, payload binary",
    )
    got = {r.media_id: r.samples for r in audio_sample_pcm(df, n_points=8).collect()}
    # frame k carries value (k*31)%1000 on every channel; 8 evenly spaced
    # points over frames 0..63 land on multiples of 9
    assert got[1] == [((k * 9) * 31) % 1000 for k in range(8)]
    assert got[2] is None


def test_audio_sample_pcm_tolerates_truncated_payload(spark):
    """A data chunk whose declared size exceeds the actual bytes (truncated
    upload) must yield the available samples, not crash the task — bad
    bytes are data, not errors."""
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        audio_sample_pcm,
    )

    full = _wav_bytes(channels=1, rate=8000, n_frames=64)
    truncated = full[: len(full) - 60]  # declared 128 bytes, 68 present
    header_only = full[:44]  # cut right after the data chunk header
    df = spark.createDataFrame(
        [(1, bytearray(truncated)), (2, bytearray(header_only))],
        "media_id long, payload binary",
    )
    got = {r.media_id: r.samples for r in audio_sample_pcm(df, n_points=8).collect()}
    # 34 frames survive the cut; samples come from what's actually there
    assert got[1] is not None and len(got[1]) == 8
    assert all(s == (k * 31) % 1000 for s, k in zip(got[1], [0, 4, 9, 14, 18, 23, 28, 33]))
    assert got[2] == []


def _mp4_bytes(timescale=1000, duration=5500, n_tracks=2, version=0):
    import struct

    def box(name, payload):
        return struct.pack(">I", 8 + len(payload)) + name + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    if version == 1:
        mvhd = box(
            b"mvhd",
            bytes([1, 0, 0, 0])
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">IQ", timescale, duration)
            + b"\x00" * 80,
        )
    else:
        mvhd = box(
            b"mvhd",
            bytes([0, 0, 0, 0])
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, duration)
            + b"\x00" * 80,
        )
    traks = b"".join(box(b"trak", b"\x00" * 16) for _ in range(n_tracks))
    return ftyp + box(b"moov", mvhd + traks) + box(b"mdat", b"\xab" * 64)


def test_sniff_video_meta_mp4_roundtrip(spark):
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        sniff_video_meta,
    )

    rows = [
        (1, bytearray(_mp4_bytes(timescale=1000, duration=5500, n_tracks=2))),
        (2, bytearray(_mp4_bytes(timescale=600, duration=1200, n_tracks=1, version=1))),
        (3, bytearray(b"definitely not a video")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in sniff_video_meta(df).collect()}
    assert got[1].format == "mp4" and got[1].brand == "isom"
    assert got[1].timescale == 1000 and got[1].duration_ms == 5500
    assert got[1].n_tracks == 2
    assert got[2].duration_ms == 2000 and got[2].n_tracks == 1  # v1 64-bit
    assert got[3].format is None and got[3].duration_ms is None


def test_bm25_search_hand_computed(spark):
    import math

    from boann_ocsf_security_data_platform_spark.operators.text import bm25_search

    docs = [
        (1, "cat dog cat", "en", "s", 11),     # cat tf=2, dl=3
        (2, "cat mouse bird fish", "en", "s", 19),
        (3, "dog dog dog dog", "en", "s", 15),
        (4, "nothing relevant here", "en", "s", 21),
    ]
    df = _docs(spark, docs)
    got = {r.doc_id: r.bm25 for r in bm25_search(df, ["cat", "dog"], k=4).collect()}
    # N=4, avg_dl=(3+4+4+3)/4=3.5; df(cat)=2, df(dog)=2
    k1, b = 1.2, 0.75
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))

    def s(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 3.5))

    assert got[1] == round(s(2, 3) + s(1, 3), 6)   # cat tf2 + dog tf1
    assert got[2] == round(s(1, 4), 6)
    assert got[3] == round(s(4, 4), 6)
    assert 4 not in got                             # no matching terms
    # ranking: doc1 (two terms) above doc3 above doc2
    assert got[1] > got[3] > got[2]


def test_quantile_bins_equi_depth(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        quantile_bins,
    )

    df = spark.range(1, 101).withColumn("v", F.col("id").cast("double"))
    out = quantile_bins(df, "v")
    from collections import Counter

    bins = Counter(r.bin for r in out.collect())
    # quartile boundaries 25.75/50.5/75.25 → 25/25/25/25 split (±1)
    assert sorted(bins) == [1, 2, 3, 4]
    assert all(24 <= bins[b] <= 26 for b in bins)
    # assignment respects boundaries: v=1 in bin 1, v=100 in bin 4
    vals = {r.v: r.bin for r in out.collect()}
    assert vals[1.0] == 1 and vals[100.0] == 4 and vals[50.0] == 1 + (50.0 > 25.75)


@pytest.mark.parametrize("name", sorted(gates.THRESHOLDS))
def test_gate_engages_strictly_above_threshold(name):
    bound = gates.THRESHOLDS[name]
    assert not gates.over(name, bound)
    assert gates.over(name, bound + 1)


@pytest.mark.parametrize(
    "col,ascending,by",
    [
        ("v", True, ()),
        ("v", False, ()),
        ("v", True, ("g",)),
        ("v", False, ("g",)),
        ("tie", True, ()),
        ("tie", False, ("g",)),
        ("empty", True, ()),
        ("empty", False, ("g",)),
    ],
)
def test_bucketed_running_matches_literal_window(spark, col, ascending, by):
    """ranks.running equals Spark's unbucketed window row for row — row
    number and sum, inclusive and exclusive, ascending and descending,
    with and without ``by``, on a duplicated column, an all-ties column
    and an empty frame (no bounds) — and ntile_of equals F.ntile for
    group sizes 103, 35 and 34, which leave remainders for k = 4, 5, 10."""
    df = spark.range(103).select(
        "id",
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 7) % 23).cast("double").alias("v"),
        F.lit(1.0).alias("tie"),
        (F.col("id") % 5 + 1).alias("x"),
    )
    if col == "empty":
        df, col = df.where(F.col("id") < 0), "v"
    modes = {
        "rn": (None, True),
        "rn_ex": (None, False),
        "sum": ("x", True),
        "sum_ex": ("x", False),
    }
    (bounds,) = ranks.quantile_bounds(df, [col])
    out = df
    for name, (sum_col, inclusive) in modes.items():
        framed, value = ranks.running(
            out,
            col,
            ascending=ascending,
            by=by,
            tie=("id",),
            sum_col=sum_col,
            inclusive=inclusive,
            bounds=bounds,
            base=df,
        )
        out = framed.withColumn(name, value).drop(ranks.BKT, ranks.PREV)
    ks = (4, 5, 10)
    n = F.count(F.lit(1)).over(Window.partitionBy(*by))
    got = out.select(
        "id",
        *modes,
        *[ranks.ntile_of(F.col("rn"), n, k).alias(f"nt{k}") for k in ks],
    )
    w = Window.partitionBy(*by).orderBy(
        F.asc(col) if ascending else F.desc(col), "id"
    )
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        (F.row_number().over(w) - 1).alias("rn_ex"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        F.coalesce(
            F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
        *[F.ntile(k).over(w) for k in ks],
    )
    got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    assert [tuple(r) for r in got_rows] == [tuple(r) for r in want_rows]
    assert len(got_rows) == (0 if bounds == [] else 103)
