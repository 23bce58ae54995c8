"""Scaled funnel soak/chaos run (round-10 verdict item #6).

tests/test_funnel_soak.py pins the funnel + IVF lifecycle LOGIC with a
100-doc corpus; this tool runs the SAME 20-batch chaos schedule — two
kill-after-sink-before-commit replays, a crashed future-batch injection,
mid-stream checkpoint-gated compaction — at shuffle-spill scale
(default 2M docs, ~100k docs/batch) and applies the same end-state
parity asserts, DataFrame-side (no 2M-row driver collects). The run
validates MEMORY POSTURE: per-batch localCheckpoints, the growing
hash/band stores, and the batch-id partitioned index under replay
pressure.

The corpus is SYNTHESIZED engine-side with the unit test's role
structure scaled up (60% fresh unique texts, 20% exact duplicates of an
earlier fresh doc, 10% near-duplicates, 5% quality failures, 5%
contaminated) so EVERY batch exercises every stage and appends
survivors. The replicated testdata trees cannot serve here: sf10 holds
only 4,992 distinct texts, so after batch 0 every arriving doc is an
exact duplicate, later batches append nothing, and the
frontier-partition chaos assert becomes unsatisfiable for a
non-product reason.

Usage: python tools/soak_scale.py [N_DOCS]
Prints one summary JSON line last; exit 0 iff every parity assert held.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

N_BATCHES = 20
DIM = 16
SEED_VECS = 1024
# seed vec_ids: disjoint from every doc id, but < 2^31 (centroid ids
# seed from the lowest-id vectors and ride an int cent_id model column)
SEED_BASE = 900_000_000

# 15 tokens, every third a stopword, no digits/punctuation — the same
# quality-gate-clearing shape as the unit-test corpus
_CONTENT = (
    "spark cluster shuffle executor column scan join filter stream batch "
    "window partition schema parquet vector index lattice harbor meadow "
    "granite copper salmon timber orchard velvet lantern compass anchor "
    "harvest thunder crystal voyage ember falcon willow summit prairie "
    "canyon glacier"
).split()
_STOPS = "the and of to in is it for with on".split()
BENCH_TEXT = (
    "the benchmark and questions of ancient to rome in empire is falling"
)


def _text(id_col):
    """Deterministic quality-passing 15-token text from an id, computed
    engine-side: token j is stopword-vocab for j%3==0 else content-vocab,
    both picked by xxhash64(id, j). Distinct ids give texts with tiny
    shingle overlap (random 3-grams over a 42-word vocab), so fresh docs
    are neither exact nor near duplicates of each other."""
    content = F.array(*[F.lit(w) for w in _CONTENT])
    stops = F.array(*[F.lit(w) for w in _STOPS])
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(15)),
            lambda j: F.when(
                j % 3 == 0,
                F.element_at(
                    stops,
                    (F.pmod(F.xxhash64(id_col, j), F.lit(len(_STOPS))) + 1)
                    .cast("int"),
                ),
            ).otherwise(
                F.element_at(
                    content,
                    (
                        F.pmod(F.xxhash64(id_col, j), F.lit(len(_CONTENT)))
                        + 1
                    ).cast("int"),
                )
            ),
        ),
    )


def _emb(id_col):
    """Deterministic embedding from an id, computed ENGINE-SIDE (the
    2M-doc corpus never round-trips through the driver): dim j is
    xxhash64(id, j) folded into [-1, 1]. The batch-side fresh-index
    build applies the same expression to the same ids, so stream and
    batch see bit-identical doubles."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: (
            F.pmod(F.xxhash64(id_col, j), F.lit(2_000_001)) - 1_000_000
        )
        / 1_000_000.0,
    )


def _delete_last_commit(ckpt: str) -> int:
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return last


def _same_rows(a, b) -> bool:
    return (
        a.count() == b.count()
        and a.exceptAll(b).count() == 0
        and b.exceptAll(a).count() == 0
    )


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000

    from boann_ocsf_security_data_platform_spark import get_spark
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        decontaminate,
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from boann_ocsf_security_data_platform_spark.operators.text import (
        text_quality,
    )
    from boann_ocsf_security_data_platform_spark.streaming import (
        compact_funnel_index,
        read_funnel_report,
        read_funnel_survivors,
        start_curation_funnel_stream,
    )

    spark = get_spark(app_name="soak-scale")
    spark.sparkContext.setLogLevel("ERROR")
    t_all = time.perf_counter()
    timings: dict[str, float] = {}

    work = Path("/tmp/soak_scale")
    shutil.rmtree(work, ignore_errors=True)
    src = work / "in"
    src.mkdir(parents=True)
    d = {k: str(work / k) for k in ("hash", "band", "out", "counts")}
    ckpt = str(work / "ckpt")
    idx = str(work / "ivf")

    # ---- corpus: role-structured synthesis, ids == arrival order ------
    # per 20-id cycle: 12 fresh unique, 4 exact dups (text of id-7, a
    # fresh doc by construction: (id-7)%20 in 5..8), 2 near dups (a
    # fresh doc's text plus one token: id-5 for role 16, id-7 for role
    # 17 — distinct fresh bases), 1 quality failure, 1 contaminated.
    t0 = time.perf_counter()
    did = F.col("doc_id")
    role = F.pmod(did, F.lit(20))
    docs = spark.range(1, n_docs + 1).select(
        F.col("id").alias("doc_id")
    ).select(
        "doc_id",
        F.when(role < 12, _text(did))
        .when(role < 16, _text(did - 7))
        # Near-dup bases must themselves be FRESH docs (role < 12), and
        # the two near-dup roles need DISTINCT bases or they become exact
        # duplicates of each other. Role 16's base is did-5 (role 11 ✓);
        # role 17 previously also used did-5, but (did-5)%20 == 12 there —
        # an exact-dup role whose actual text is _text(did-12), so the
        # base text existed nowhere and role-17 docs behaved as fresh
        # uniques, halving the documented 10% near-dup rate. did-7 puts
        # role 17's base at role 10 (fresh, distinct from role 16's).
        .when(role == 16, F.concat(_text(did - 5), F.lit(" extratoken")))
        .when(role == 17, F.concat(_text(did - 7), F.lit(" extratoken")))
        .when(
            role == 18,
            F.concat(F.lit("zz!!! "), did.cast("string"), F.lit(" ?? xx##")),
        )
        .otherwise(
            # contaminated = an otherwise-FRESH text plus one benchmark
            # shingle. Appending the whole benchmark text instead makes
            # every role-19 doc a near-duplicate of every other one —
            # they all share one band bucket, and the batch-side pair
            # verification then enumerates ~n19² candidates (the 2M-doc
            # run wedged 4 straggler tasks on ~5e9 pairs). One shared
            # shingle keeps pairwise Jaccard ~0.03 (bands miss) while
            # decontamination still provably fires.
            F.concat(_text(did), F.lit(" benchmark and questions"))
        )
        .alias("text"),
        _emb(did).alias("embedding"),
    )
    per_batch = n_docs // N_BATCHES
    # contiguous ascending id ranges per batch (the id-monotone-with-
    # arrival contract): batch = ntile over global doc_id order
    batched = docs.withColumn(
        "_b", F.ntile(N_BATCHES).over(Window.orderBy("doc_id")) - 1
    )
    batched.write.mode("overwrite").partitionBy("_b").json(
        str(work / "staged")
    )
    pending = work / "pending"
    pending.mkdir()
    for b in range(N_BATCHES):
        parts = sorted((work / "staged" / f"_b={b}").glob("part-*.json"))
        assert parts, f"batch {b} staged empty"
        with open(pending / f"b{b:02d}.json", "wb") as outf:
            for p in parts:
                outf.write(p.read_bytes())
        os.utime(
            pending / f"b{b:02d}.json",
            (1_700_000_000 + b * 60, 1_700_000_000 + b * 60),
        )
    shutil.rmtree(work / "staged")

    def arrive(first: int, last: int) -> None:
        """Move batch files into the stream source (mtimes pre-set)."""
        for b in range(first, last):
            os.rename(pending / f"b{b:02d}.json", src / f"b{b:02d}.json")
    timings["corpus_prep"] = round(time.perf_counter() - t0, 1)
    print(
        f"corpus: {n_docs} docs, {N_BATCHES} batches x ~{per_batch}"
        f" ({timings['corpus_prep']}s prep)",
        flush=True,
    )

    # benchmark: role-19 docs are built FROM this text (plus a unique
    # suffix token), so decontamination provably drops docs; fresh docs
    # use a disjoint content vocabulary and can never share a shingle
    benchmark = spark.createDataFrame([(BENCH_TEXT,)], "text string")

    # seed index (frozen centroids), ids disjoint from the corpus
    seed = (
        spark.range(SEED_BASE, SEED_BASE + SEED_VECS)
        .select(F.col("id").alias("vec_id"), _emb(F.col("id")).alias("embedding"))
    )
    build_ivf_index(seed, idx, n_centroids=16, train_iters=3, dim=DIM)

    def run_segment(tag: str) -> None:
        t = time.perf_counter()
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q, release = start_curation_funnel_stream(
            stream, benchmark, d["hash"], d["band"], d["out"], d["counts"],
            ckpt, available_now=True, ivf_index_dir=idx,
        )
        q.awaitTermination(7200)
        release()
        timings[tag] = round(time.perf_counter() - t, 1)
        print(f"segment {tag}: {timings[tag]}s", flush=True)

    # ---- the r10 chaos schedule, verbatim ----------------------------
    # segment 1: batches 0-7
    arrive(0, 8)
    run_segment("seg1_b0_7")

    # chaos 1: kill after sinks, before commit -> replay of batch 7
    replayed = _delete_last_commit(ckpt)
    assert replayed == 7, replayed
    run_segment("seg1_replay_b7")

    # segment 2: batches 8-15, then mid-stream compaction on an
    # uncommitted replay frontier
    arrive(8, 16)
    run_segment("seg2_b8_15")
    _delete_last_commit(ckpt)
    t0 = time.perf_counter()
    folded_rows = compact_funnel_index(spark, idx, ckpt)
    timings["compact_mid"] = round(time.perf_counter() - t0, 1)
    assert folded_rows > 0
    appended = spark.read.parquet(f"{idx}/lists")
    assert appended.filter(F.col("_batch_id") == 15).count() > 0, (
        "the uncommitted frontier batch must keep its append partitions"
    )
    assert appended.filter(
        (F.col("_batch_id") >= 0) & (F.col("_batch_id") < 15)
    ).count() == 0, "every committed batch must have been folded into -1"
    run_segment("seg2_replay_b15")

    # chaos 3: a crashed attempt of FUTURE batch 16 wrote sink + store
    # partitions (bogus survivor set) before dying; the real batch 16
    # must dynamically overwrite all of them
    for sink in (d["out"], d["hash"], d["band"]):
        store = spark.read.parquet(sink)
        bogus = (
            store.limit(1)
            .withColumn(
                "doc_id",
                F.lit(899_999_999).cast(store.schema["doc_id"].dataType),
            )
            .withColumn("_batch_id", F.lit(16))
        )
        bogus.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_batch_id").parquet(sink)

    # segment 3: batches 16-19, final compaction
    arrive(16, N_BATCHES)
    run_segment("seg3_b16_19")
    t0 = time.perf_counter()
    compact_funnel_index(spark, idx, ckpt)
    timings["compact_final"] = round(time.perf_counter() - t0, 1)

    # ---- verification vs one batch run of the same corpus ------------
    # (same asserts as tests/test_funnel_soak.py, DataFrame-side)
    t0 = time.perf_counter()
    survivors = read_funnel_survivors(spark, d["out"]).select("doc_id")
    assert (
        survivors.filter(F.col("doc_id") == 899_999_999).count() == 0
    ), "crashed-attempt sink rows must be gone"

    from boann_ocsf_security_data_platform_spark.operators.cache import (
        materialize,
    )

    full = docs.select("doc_id", "text")
    s1 = materialize(
        full.join(
            exact_dedup(full).select(F.col("keep_id").alias("doc_id")), "doc_id"
        ),
        disk=True,
    )
    pairs = minhash_near_dup_pairs(s1)
    # on-disk materializations: the parity asserts below drive ~8 actions
    # (counts, two exceptAll sides, the fresh index build) and each
    # would otherwise re-run the full banding/pair lineage over 2M docs
    # — the first 2M run spent 3266 s of its 3526 s total re-computing
    # these frames.
    s2 = materialize(
        s1.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id", "left_anti",
        ),
        disk=True,
    )
    s3 = (
        text_quality(s2)
        .where((F.col("quality_score") >= 0.75) & (F.col("n_tokens") >= 10))
        .select("doc_id", "text")
    )
    s4 = decontaminate(s3, benchmark)
    batch_ids = materialize(s4.select("doc_id"), disk=True)
    assert _same_rows(survivors, batch_ids), "survivor sets diverge"

    n_exact, n_s2, n_s3, n_s4 = (
        s1.count(), s2.count(), s3.count(), batch_ids.count()
    )
    assert n_exact < n_docs, "exact dups must exist"
    assert n_s2 < n_exact, "near dups must drop docs"
    assert n_s3 < n_s2, "quality gate must drop docs"
    assert n_s4 < n_s3, "contamination must drop docs"

    report = {
        r.stage: r.n_docs
        for r in read_funnel_report(spark, d["counts"]).collect()
    }
    assert report["s0_raw"] == n_docs, report
    assert report["s1_exact_dedup"] == n_exact, report
    assert report["s2_near_dup"] == n_s2, report
    assert report["s3_quality"] == n_s3, report
    assert report["s4_decontaminated"] == report["s5_indexed"] == n_s4

    for store in (d["hash"], d["band"]):
        got = {
            r._batch_id
            for r in spark.read.parquet(store)
            .select("_batch_id").distinct().collect()
        }
        assert got == set(range(N_BATCHES)), (store, sorted(got))
    assert spark.read.parquet(d["hash"]).filter(
        F.col("doc_id") == 899_999_999
    ).count() == 0

    lists = spark.read.parquet(f"{idx}/lists")
    assert lists.count() == SEED_VECS + n_s4
    assert lists.select("vec_id").distinct().count() == SEED_VECS + n_s4

    union = seed.unionByName(
        batch_ids.select(
            F.col("doc_id").alias("vec_id"),
            _emb(F.col("doc_id")).alias("embedding"),
        )
    )
    fresh = str(work / "ivf_fresh")
    build_ivf_index(union, fresh, n_centroids=16, train_iters=3, dim=DIM)
    probes = (
        spark.range(2_000_000_000, 2_000_000_000 + 8)
        .select(F.col("id").alias("vec_id"), _emb(F.col("id")).alias("embedding"))
    )
    got = sorted(
        tuple(r)
        for r in query_ivf_index(spark, idx, probes, k=5, n_probe=16).collect()
    )
    want = sorted(
        tuple(r)
        for r in query_ivf_index(
            spark, fresh, probes, k=5, n_probe=16
        ).collect()
    )
    assert got == want and len(got) == 40, (len(got), len(want))
    timings["verify"] = round(time.perf_counter() - t0, 1)

    summary = {
        "metric": "funnel_soak_scale_seconds",
        "value": round(time.perf_counter() - t_all, 1),
        "n_docs": n_docs,
        "docs_per_batch": per_batch,
        "n_batches": N_BATCHES,
        "survivors": n_s4,
        "timings": timings,
        "result": "PASS",
    }
    print(json.dumps(summary), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
