"""Round-10 pins for the decade-3 (sf100) sweep fixes.

Three defects surfaced sweeping the heavy tail at /tmp/sf100 (5M docs =
1000 replicas/text, 600M lineitem):

- dedup_minhash_lsh was the last pair entry banding the RAW corpus;
  replicas share every band key, so the bucket valve cannot help and the
  copies² similarity-1.0 replica pairs (true output) filled the scratch
  disk mid-shuffle. It now routes through _docs_gated_with_pin like the
  rest of the minhash family.
- agg_fleiss_kappa hash-aggregated a 3x-fact union at item grain twice
  (450M rows / 150M groups — UNABLE_TO_ACQUIRE_MEMORY at 32 concurrent
  tasks); the three raters are three columns of one row, so the per-item
  layer is row-local and one scalar aggregate remains (oracle hash
  unchanged — re-verified at sf0.01).
- duplicate_span_stats shuffled ~50-byte span STRINGS on its dominant
  exchange; the scale arm now shuffles xxhash64 8-byte keys and pins the
  derived duplicated-span set to sort-merge, size-gated so the oracle
  arm below the gate stays a verbatim string replay.
"""

from pyspark.sql import functions as F

import __spark_entry__ as em
from boann_ocsf_security_data_platform_spark.operators import gates

QS = em.queries()
SF = "/root/testdata/sf0.001"


def test_minhash_lsh_gate_noop_on_distinct_corpus(spark, monkeypatch):
    """With the collapse gate forced LOW on a corpus with no exact
    duplicates, the collapse is a row-preserving no-op and the pair set
    must be byte-identical to the ungated (oracle) arm."""
    # precondition (ADVICE r10 #4): the fixture must actually be
    # duplicate-free, else the forced collapse is not row-preserving and
    # this test would fail for a non-product reason
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    n_texts = docs.select("text").distinct().count()
    assert n_docs == n_texts, (
        f"sf0.001 documents fixture gained exact-duplicate texts "
        f"({n_docs} rows, {n_texts} distinct) — this test's no-op premise "
        f"no longer holds; point it at a duplicate-free corpus"
    )
    base = sorted(tuple(r) for r in QS["dedup_minhash_lsh"](spark, SF).collect())
    assert base, "fixture must produce near-dup pairs"
    monkeypatch.setitem(gates.THRESHOLDS, "pairwise_exact", 1)
    gated = sorted(
        tuple(r) for r in QS["dedup_minhash_lsh"](spark, SF).collect()
    )
    assert gated == base


def test_minhash_lsh_gate_drops_replica_pairs_only(spark, tmp_path):
    """On a replicated corpus above the gate, the entry must emit exactly
    the base corpus's near-dup pairs: exact replicas collapse to their
    min-id representative (the original), so replica pairs — exact
    dedup's linear report — never enter the banding, while pairs among
    distinct texts are untouched. Mirrors the embedding_near_dup replica
    pin (test_round9_ops)."""
    base = {
        (r.id_a, r.id_b)
        for r in QS["dedup_minhash_lsh"](spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = docs
    for i in range(1, 40):  # 20k docs > THRESHOLDS["pairwise_exact"]
        copies = copies.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
        )
    heavy_dir = tmp_path / "heavy"
    copies.write.parquet(str(heavy_dir / "documents.parquet"))
    heavy = {
        (r.id_a, r.id_b)
        for r in QS["dedup_minhash_lsh"](spark, str(heavy_dir)).collect()
    }
    assert heavy == base


def test_duplicate_span_stats_scale_arm_identity(spark):
    """hash_keys + pin_shuffle_join are plan choices, not semantics: on a
    collision-free corpus the hashed-key sort-merge arm returns the same
    per-document rows as the verbatim-string arm."""
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.text import (
        duplicate_span_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with cache_scope():
        want = sorted(tuple(r) for r in duplicate_span_stats(docs, n=8).collect())
    with cache_scope():
        got_df = duplicate_span_stats(
            docs, n=8, hash_keys=True, pin_shuffle_join=True
        )
        got = sorted(tuple(r) for r in got_df.collect())
    assert want and got == want


def test_duplicate_span_stats_entry_gate_forced(spark, monkeypatch):
    """Entry-level: forcing the gate low routes through the hashed-key
    arm and must reproduce the oracle arm's rows at sf0.001."""
    base = sorted(
        tuple(r) for r in QS["dedup_duplicate_spans"](spark, SF).collect()
    )
    monkeypatch.setitem(gates.THRESHOLDS, "docs", 1)
    gated = sorted(
        tuple(r) for r in QS["dedup_duplicate_spans"](spark, SF).collect()
    )
    assert gated == base and len(base) > 0


def test_spearman_contingency_arm_identity(spark, monkeypatch):
    """The fact-gated contingency reformulation of exact Spearman (value
    rank maps + weighted Pearson over joint groups) must reproduce the
    row-level window arm's rounded output exactly — the gate is a plan
    choice, never a semantics choice."""
    base = sorted(
        tuple(r) for r in QS["agg_spearman_rank_corr"](spark, SF).collect()
    )
    monkeypatch.setitem(gates.THRESHOLDS, "fact", 0)
    gated = sorted(
        tuple(r) for r in QS["agg_spearman_rank_corr"](spark, SF).collect()
    )
    assert gated == base and len(base) > 0


def test_anderson_darling_run_closed_form_identity(spark, monkeypatch):
    """The fact-gated Anderson-Darling arm (closed-form tie-run
    coefficients over the (g, z) contingency) must reproduce the
    row-level rank-window arm's rounded output exactly."""
    base = sorted(
        tuple(r)
        for r in QS["agg_anderson_darling_normality"](spark, SF).collect()
    )
    monkeypatch.setitem(gates.THRESHOLDS, "fact", 0)
    gated = sorted(
        tuple(r)
        for r in QS["agg_anderson_darling_normality"](spark, SF).collect()
    )
    assert gated == base and len(base) > 0
