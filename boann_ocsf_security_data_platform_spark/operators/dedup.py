"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):
- exact dedup is one hash-aggregate — Spark's partial/final aggregation
  means map-side combine before the shuffle, so the shuffle carries one row
  per distinct key per mapper, not per input row;
- near-dup NEVER does an O(n²) comparison: MinHash-LSH banding turns it into
  an equi-join on (band_idx, band_hash) — shuffle-partitionable, AQE handles
  skewed buckets, and pathological buckets can be capped;
- all hashes use the engine-portable ``hash64`` (md5-based) so every stage
  is verifiable against a DuckDB oracle; pass ``hash_fn=hash64_fast``
  (masked ``xxhash64``) for the production path — measured ~1.15× on the
  whole MinHash pipeline at sf0.1 (hashing stopped dominating once
  shingles became integers; the gap widens with document length), with
  the identical LSH guarantee (exact duplicates always collide —
  regression-tested under both hash families).

MinHash permutations use the XOR scheme: ``sig_j = min_s(hash64(s) XOR C_j)``
with fixed 60-bit constants C_j — one md5 per shingle regardless of the
signature width, and no modular arithmetic that could overflow 64-bit
integers in either engine.
"""

from __future__ import annotations

import hashlib
import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hash_fns import hash64, hash64_fast, normalize_text  # noqa: F401
from .cache import cache_scope, materialize
from .gates import merge_pinned

logger = logging.getLogger(__name__)


def _xor_constant(j: int) -> int:
    """Deterministic 60-bit MinHash permutation constant (same formula the
    DuckDB oracle uses)."""
    return int(hashlib.md5(f"minhash-perm-{j}".encode()).hexdigest()[:15], 16)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread CPU-bound per-row work (shingling, hashing) across cores.

    A small parquet input arrives as one split, serializing the whole
    map stage on one task. When the plan has fewer partitions than the
    cluster's default parallelism, repartition up; on real at-scale inputs
    (thousands of splits) this is a no-op so no gratuitous shuffle.

    The probe prefers ``inputFiles()`` (a catalog listing — no physical
    planning) over ``df.rdd.getNumPartitions()``, which materializes the
    RDD plan driver-side on every call; the RDD probe remains only as the
    fallback for non-file sources (in-memory test frames)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits == 0:  # non-file source
        n_splits = df.rdd.getNumPartitions()
    if n_splits < target:
        return df.repartition(target)
    return df


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the canonicalized-text fingerprint: one surviving
    (minimum) id per distinct content hash + the duplicate count.
    Single hash-aggregate, no join."""
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, col_name: str = "shingles"
) -> DataFrame:
    """Distinct word k-gram shingles of the normalized text (row-local,
    shuffle-free). Documents with fewer than k words get their whole text
    as the single shingle so they still participate in dedup."""
    words = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda w: w != "")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )
    shingles = F.when(n >= k, grams).otherwise(F.array(F.array_join(words, " ")))
    return df.withColumn(col_name, F.array_distinct(shingles))


def with_hashed_shingles(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    col_name: str = "shingle_hashes",
    hash_fn=hash64,
) -> DataFrame:
    """Distinct word-k-gram shingles as 62-bit integers, built WITHOUT
    constructing shingle strings: each word is md5-hashed once, then a
    k-gram hash is the weighted XOR ``(h_i * 2^(k-1)) ⊕ … ⊕ h_{i+k-1}``
    (order-sensitive, engine-portable, no 64-bit overflow for k ≤ 4).

    This is the scale path: shingle-string concatenation dominated the
    string pipeline (~2/3 of MinHash wall time at 50k docs); hashing words
    once and combining integers is ~4× cheaper and shrinks every
    downstream exchange. Documents shorter than k words hash the whole
    normalized text so they still participate.
    """
    if k > 4:
        raise ValueError("k <= 4 keeps the weighted XOR inside 64 bits")
    words = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda w: w != "")
    hashed = df.withColumn(
        "_word_hashes", F.transform(words, lambda w: hash_fn(w))
    ).withColumn("_n_words", F.size("_word_hashes"))
    wh = F.col("_word_hashes")

    def gram(i):
        acc = None
        for j in range(k):
            term = F.element_at(wh, i + j) * F.lit(1 << (k - 1 - j))
            acc = term if acc is None else acc.bitwiseXOR(term)
        return acc

    grams = F.transform(F.sequence(F.lit(1), F.col("_n_words") - k + 1), gram)
    whole_doc = F.array(hash_fn(F.array_join(words, " ")))
    shingles = F.when(F.col("_n_words") >= k, grams).otherwise(whole_doc)
    return (
        hashed.withColumn(col_name, F.array_distinct(shingles))
        .drop("_word_hashes", "_n_words")
    )


def minhash_signature(
    df: DataFrame,
    shingle_col: str = "shingles",
    n_hashes: int = 16,
    col_name: str = "minhash",
    pre_hashed: bool = False,
) -> DataFrame:
    """MinHash signature (array<long>, length n_hashes) over the shingle
    set. One md5 per shingle; permutations are XORs with fixed constants.

    The hash array is materialized in its own projection first: embedding
    the ``transform(shingles, md5...)`` expression inside all n_hashes
    permutation lambdas duplicates the tree and re-hashes every shingle
    n_hashes times (measured 23x slowdown at 50k docs before this split —
    Spark's subexpression elimination does not reach into higher-order
    lambdas)."""

    def _perm(j: int):
        c = _xor_constant(j)
        return lambda h: h.bitwiseXOR(F.lit(c))

    if pre_hashed:  # shingle_col already holds array<long>
        hashed, hash_col = df, shingle_col
    else:
        hashed = df.withColumn(
            "_sh_hashes", F.transform(F.col(shingle_col), lambda s: hash64(s))
        )
        hash_col = "_sh_hashes"
    sig = F.array(
        *[
            F.array_min(F.transform(F.col(hash_col), _perm(j)))
            for j in range(n_hashes)
        ]
    )
    out = hashed.withColumn(col_name, sig)
    return out if pre_hashed else out.drop("_sh_hashes")


def lsh_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    minhash_col: str = "minhash",
    n_bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """One row per (id, band_idx, band_hash): the LSH banding key stream
    shared by the batch self-join (:func:`lsh_candidate_pairs`) and the
    streaming near-dup path (streaming/neardup.py) — same md5-over-band
    expression on both, so stream and batch bucket identically. Row-local
    explode, no shuffle."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(F.col(minhash_col), b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return df.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, "band.band_idx", "band.band_hash"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    minhash_col: str = "minhash",
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """LSH banding: documents sharing ANY band hash become a candidate pair.

    explode(bands) → self-equi-join on (band_idx, band_hash) → distinct
    (a < b) pairs. The join is the only shuffle.

    ``max_bucket_size`` is the 100 TB safety valve: a degenerate bucket
    (boilerplate text, empty documents) produces |bucket|² candidate pairs
    and stalls the join. Buckets larger than the cap are dropped from
    candidate generation via a broadcast anti-join against the oversized
    bucket list — the list is tiny by construction (oversized buckets are
    the anomaly), and the map-side-combined count shuffles only distinct
    bucket keys, never the exploded rows (round 9: replaces a window
    count that shuffled the full band frame, +19% on the minhash entry).
    Their members are near-identical boilerplate that exact dedup (one
    hash-aggregate) already collapses. Recall loss: a pair is missed only
    when EVERY band it matches on is degenerate (typically both documents
    are the boilerplate itself). Default None keeps exact LSH semantics
    for oracle verification.
    """
    exploded = lsh_band_keys(
        df,
        id_col=id_col,
        minhash_col=minhash_col,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    )

    if max_bucket_size is not None:
        # the count recomputes the (map-only) band projection rather than
        # caching pre-valve rows: the partial-agg shuffle carries only
        # distinct bucket keys, and the persisted frame below is already
        # valve-filtered so both self-join sides read it verbatim
        big = (
            exploded.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band_idx", "band_hash")
        )
        exploded = exploded.join(
            F.broadcast(big), ["band_idx", "band_hash"], "left_anti"
        )
    # both sides of the self-join read it
    exploded = materialize(exploded)

    a = exploded.alias("a")
    b = merge_pinned(exploded.alias("b"), pin_shuffle_join)
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    jaccard_threshold: float | None = None,
    max_bucket_size: int | None = None,
    hash_fn=hash64,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Full near-dup pipeline: hashed shingles → MinHash → LSH candidates →
    (optional) exact Jaccard verification of candidates only. Shingles are
    integers end-to-end (see with_hashed_shingles) — no shingle strings.

    The shingle stage is persisted: it feeds the signature AND both sides
    of the Jaccard verification join, and Spark re-evaluates an unpersisted
    subplan once per use (measured ~50× blowup on the sibling n-gram
    operator). At warehouse scale, materialize shingles as a table instead.
    The caller's :func:`cache_scope` releases the cached intermediates.
    """
    sh = materialize(
        with_hashed_shingles(_ensure_parallelism(df), text_col, k, hash_fn=hash_fn)
        .select(id_col, "shingle_hashes")
    )
    sig = minhash_signature(
        sh, shingle_col="shingle_hashes", n_hashes=n_hashes, pre_hashed=True
    )
    pairs = lsh_candidate_pairs(
        sig,
        id_col=id_col,
        n_bands=n_bands,
        rows_per_band=n_hashes // n_bands,
        max_bucket_size=max_bucket_size,
        pin_shuffle_join=pin_shuffle_join,
    )
    if jaccard_threshold is None:
        return pairs
    sh_a = merge_pinned(
        sh.select(
            F.col(id_col).alias("id_a"),
            F.col("shingle_hashes").alias("sh_a"),
            F.size("shingle_hashes").alias("_sz_a"),
        ),
        pin_shuffle_join,
    )
    sh_b = merge_pinned(
        sh.select(
            F.col(id_col).alias("id_b"),
            F.col("shingle_hashes").alias("sh_b"),
            F.size("shingle_hashes").alias("_sz_b"),
        ),
        pin_shuffle_join,
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # |A∪B| = |A|+|B|-|A∩B| with sizes hoisted per ROW (shingle sets are
    # distinct, so this is exactly size(array_union)) — halves the
    # per-PAIR array work vs materializing the union per pair
    union = F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")
    verified = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("_inter", inter)
        .withColumn("jaccard", F.round(F.col("_inter") / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def _unconverged(name: str, max_iter: int, on_max_iter: str) -> None:
    msg = (
        f"{name} exhausted max_iter={max_iter} before converging — the "
        "returned cluster ids are SPLIT (transitively linked nodes may "
        "carry different labels); raise max_iter or use the two-phase "
        "variant (O(log n) rounds)"
    )
    if on_max_iter == "raise":
        raise RuntimeError(msg)
    logger.warning(msg)


def connected_components(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iter: int = 50,
    on_max_iter: str = "warn",
) -> DataFrame:
    """Connected components over near-dup pairs → dedup clusters.

    The canonical step after pair generation in a training-data pipeline:
    transitively-linked documents form one cluster (keep one representative
    per cluster). Returns ``(node, cluster_id)`` for every node appearing in
    at least one pair, ``cluster_id`` = minimum node id of the component.

    Iterative min-label propagation: each round every node takes the min of
    its own and its neighbors' labels — pure joins + aggregates, O(diameter)
    rounds. Near-dup graphs are unions of near-cliques (LSH buckets), so
    convergence is typically 2-3 rounds. Every round is materialized via
    ``localCheckpoint`` — cuts the exponentially growing lineage AND gives
    the convergence check a cheap comparison base. For adversarial
    long-path graphs at 100 TB switch to the large-star/small-star
    alternation (same join shapes, O(log n) rounds).
    """
    e = pairs.select(F.col(id_col_a).alias("a"), F.col(id_col_b).alias("b"))
    with cache_scope():
        edges = materialize(
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
        )
        labels = (
            edges.select("a")
            .distinct()
            .select(F.col("a").alias("node"), F.col("a").alias("label"))
            .localCheckpoint(eager=True)
        )
        converged = False
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, edges.a == labels.node)
                .groupBy("b")
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = (
                labels.join(nbr_min, labels.node == nbr_min.b, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
    if not converged:
        _unconverged("connected_components", max_iter, on_max_iter)
    return labels.select("node", F.col("label").alias("cluster_id"))


def connected_components_two_phase(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iter: int = 30,
    on_max_iter: str = "warn",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round scale path for adversarial graphs where plain
    min-label propagation (:func:`connected_components`, O(diameter)
    rounds) degrades, e.g. long chains of pairwise near-dups.

    Each round is two grouped-min + join passes over the edge list:
    large-star hangs every larger neighbor off the neighborhood minimum,
    small-star re-hangs the smaller ones; at the fixed point the edge set
    is a star per component centered on its minimum. Same output contract
    as :func:`connected_components`: ``(node, cluster_id)``.
    """
    e = pairs.select(F.col(id_col_a).alias("a"), F.col(id_col_b).alias("b"))
    # canonical undirected edges, self-loops dropped
    edges = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.union(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def _star(ed: DataFrame, large: bool) -> DataFrame:
        nbr = _sym(ed)
        mins = nbr.groupBy("a").agg(F.min("b").alias("_mb"))
        mins = mins.select(
            "a", F.least(F.col("a"), F.col("_mb")).alias("m")
        )
        j = nbr.join(mins, "a")
        if large:
            hung = j.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("u"), F.col("m").alias("v")
            )
        else:
            hung = (
                j.filter(F.col("b") <= F.col("a"))
                .select(F.col("b").alias("u"), F.col("m").alias("v"))
                .union(j.select(F.col("a").alias("u"), F.col("m").alias("v")))
            )
        return (
            hung.filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
            )
            .distinct()
        )

    converged = False
    for _ in range(max_iter):
        new_edges = _star(_star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        changed = (
            new_edges.exceptAll(edges).count() + edges.exceptAll(new_edges).count()
        )
        edges = new_edges
        if changed == 0:
            converged = True
            break
    if not converged:
        _unconverged("connected_components_two_phase", max_iter, on_max_iter)
    # fixed point: star per component; canonical (least, greatest) puts the
    # center (component min) in `a`, leaves in `b`
    centers = edges.select(F.col("a").alias("node"), F.col("a").alias("cluster_id"))
    leaves = edges.select(F.col("b").alias("node"), F.col("a").alias("cluster_id"))
    return leaves.union(centers).distinct()


def cluster_pairs(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    algorithm: str = "auto",
    two_phase_pair_threshold: int = 1_000_000,
    max_iter: int | None = None,
    on_max_iter: str = "warn",
) -> DataFrame:
    """Near-dup pairs → dedup clusters, choosing the right connected-
    components algorithm for the graph size — the entry point the dedup
    pipeline (dedup_clusters / dedup_filtered_corpus) calls.

    ``algorithm``:
    - ``"iterative"`` — min-label propagation, O(diameter) rounds. Ideal
      for LSH near-dup graphs (unions of near-cliques, diameter 2-3).
    - ``"two_phase"`` — large-star/small-star, O(log n) rounds. The scale
      path for adversarial graphs (long chains) where diameter ≈ n.
    - ``"auto"`` (default) — persist + count the pair list once (the
      count's join work is reused by the clustering pass) and pick:
      iterative below ``two_phase_pair_threshold`` pairs, two-phase above.
      Pair count is the available proxy for worst-case diameter: small
      graphs converge in a few rounds either way, while a huge pair list
      is exactly where an accidental long chain would turn O(diameter)
      into hundreds of shuffle rounds.
    """
    if algorithm == "auto":
        with cache_scope():
            pairs = materialize(pairs)
            n_pairs = pairs.count()
            algorithm = (
                "two_phase" if n_pairs > two_phase_pair_threshold else "iterative"
            )
            fn = (
                connected_components_two_phase
                if algorithm == "two_phase"
                else connected_components
            )
            return fn(
                pairs,
                id_col_a,
                id_col_b,
                **({"max_iter": max_iter} if max_iter is not None else {}),
                on_max_iter=on_max_iter,
            )
    if algorithm == "iterative":
        fn = connected_components
    elif algorithm == "two_phase":
        fn = connected_components_two_phase
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return fn(
        pairs,
        id_col_a,
        id_col_b,
        **({"max_iter": max_iter} if max_iter is not None else {}),
        on_max_iter=on_max_iter,
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing ANY
    word ``k``-gram with the benchmark set — the train/test-overlap removal
    step every serious pretraining pipeline runs before training.

    Shape at 100 TB: the benchmark side (eval sets) is tiny relative to the
    corpus, so its distinct shingle set broadcasts and the contamination
    probe is a broadcast LEFT SEMI join against exploded corpus shingles —
    the corpus is scanned once and never shuffled; the final keep-filter is
    a broadcast-able anti join on contaminated ids. Shingles are the same
    62-bit integers as the dedup family (no shingle strings).
    """
    c_sh = with_hashed_shingles(
        _ensure_parallelism(corpus), text_col, k
    ).select(id_col, F.explode("shingle_hashes").alias("_sh"))
    b_sh = (
        with_hashed_shingles(_ensure_parallelism(benchmark), text_col, k)
        .select(F.explode("shingle_hashes").alias("_sh"))
        .distinct()
    )
    contaminated = (
        c_sh.join(F.broadcast(b_sh), "_sh", "left_semi").select(id_col).distinct()
    )
    # the contaminated-id set scales with the corpus (worst case: all of
    # it) — never let the planner broadcast it into the anti-join
    return corpus.join(merge_pinned(contaminated), id_col, "left_anti")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Directional shingle-containment pairs: C(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ ``threshold`` — the
    asymmetric cousin of Jaccard that catches a document EMBEDDED in a
    larger one (quote-inclusion, benchmark-question-inside-a-crawl-page),
    which symmetric similarity misses because the union washes it out.

    Plan shape: distinct integer shingles per doc (the dedup family's
    62-bit weighted-XOR grams, no shingle strings), candidate pairs from a
    self-equi-join ON THE SHINGLE KEY (only documents sharing a gram ever
    meet — never an all-pairs compare), intersection sizes from one
    count aggregate, and the final ratio joins the tiny per-doc size
    table. ``max_shingle_df`` is the scale valve: shingles appearing in
    more than N documents are dropped from candidate generation (stop-gram
    removal — at 100 TB the 'the quick brown'-class grams otherwise
    dominate the join). The valve can only LOSE pairs whose every shared
    shingle is that common; with it unset the result is exact.

    Returns ``(id_a, id_b, containment)`` — containment of id_a's shingle
    set within id_b's; both directions appear when both clear the
    threshold.
    """
    # array form: the explode below re-derives cheaply
    arr = materialize(
        with_hashed_shingles(_ensure_parallelism(df), text_col, k)
        .select(F.col(id_col), "shingle_hashes")
    )
    sh = arr.select(F.col(id_col), F.explode("shingle_hashes").alias("_sh"))
    # TRUE set sizes — always from the uncapped shingle sets, so the valve
    # below can only shrink the measured intersection, never the
    # denominator: capped containment <= true containment, one-sided loss
    sizes = arr.select(F.col(id_col), F.size("shingle_hashes").alias("_sz"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_sh")
        )
        # the hot set is bounded (few grams exceed a sane cap) — broadcast
        sh = materialize(sh.join(F.broadcast(hot), "_sh", "left_anti"))
    a = sh.select(F.col(id_col).alias("id_a"), "_sh")
    b = merge_pinned(
        sh.select(F.col(id_col).alias("id_b"), "_sh"), pin_shuffle_join
    )
    inter = (
        a.join(b, "_sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    out = (
        inter.join(
            merge_pinned(
                sizes.select(
                    F.col(id_col).alias("id_a"), F.col("_sz").alias("_sz_a")
                ),
                pin_shuffle_join,
            ),
            "id_a",
        )
        .withColumn(
            "containment", F.round(F.col("_c") / F.col("_sz_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return out


def simhash16(
    df: DataFrame, text_col: str = "text", col_name: str = "simhash"
) -> DataFrame:
    """16-bit SimHash over whitespace tokens (row-local, shuffle-free).

    Each bit b is the sign of sum(±1 per token) where the token votes +1
    when bit b of its hash64 is set. 16 bits keeps the expression tree
    small while still bucketing near-identical token multisets together;
    widen to 64 via the same construction when finer granularity is needed.
    """
    toks = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda w: w != "")
    # materialize token hashes once — embedding the transform in all 16
    # per-bit aggregates would re-md5 every token 16 times (see
    # minhash_signature docstring)
    hashed = df.withColumn("_tok_hashes", F.transform(toks, lambda t: hash64(t)))

    def _vote(b: int):
        mask = F.lit(1 << b)
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(mask) != 0, 1
        ).otherwise(-1)

    bit_votes = [
        F.aggregate(F.col("_tok_hashes"), F.lit(0), _vote(b)) for b in range(16)
    ]
    sim = None
    for b, vote in enumerate(bit_votes):
        term = F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return hashed.withColumn(col_name, sim.cast("long")).drop("_tok_hashes")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    k: int = 3,
    threshold: float = 0.5,
    hash_fn=hash64,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a blocking key.

    Set-oriented plan (no per-row pair loops): explode distinct shingles →
    self-join on (block, shingle) → count shared shingles per pair →
    jaccard = |∩| / (|A| + |B| - |∩|). The blocking column bounds the join
    fan-out; at scale use an LSH band as the block instead of a natural key.
    """
    # persisted: reused by the sizes lookup and both join sides (see
    # minhash_near_dup_pairs docstring for the re-evaluation blowup)
    sh = materialize(
        with_hashed_shingles(_ensure_parallelism(df), text_col, k, hash_fn=hash_fn)
        .select(block_col, id_col, F.col("shingle_hashes"))
    )
    sizes = sh.select(id_col, F.size("shingle_hashes").alias("n_sh"))
    # integer shingles end-to-end: same distinct-count semantics
    # (collisions negligible), ~3× lighter shuffle keys than strings
    tokensr = sh.select(
        block_col, id_col, F.explode("shingle_hashes").alias("shingle")
    )
    a = tokensr.alias("a")
    b = merge_pinned(tokensr.alias("b"), pin_shuffle_join)
    inter = (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = merge_pinned(
        sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
        pin_shuffle_join,
    )
    sb = merge_pinned(
        sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
        pin_shuffle_join,
    )
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """EXACT word-set Jaccard similarity join via prefix filtering — no
    blocking key needed, no all-pairs comparison (the PPJoin family of
    algorithms, Xiao et al., WWW 2008).

    Order every document's distinct tokens by GLOBAL frequency (rarest
    first); for threshold ``t`` two sets can only reach Jaccard ≥ t if they
    share a token among each one's first ``|x| - ceil(t·|x|) + 1`` tokens
    (the prefix). Candidates are therefore an equi-join on PREFIX tokens
    only — the most frequent tokens, which drive the quadratic blowup in a
    naive token join, never generate candidates because they sort to the
    suffix. A length filter (t·|x| ≤ |y| ≤ |x|/t) prunes further, then the
    exact Jaccard over the full sets verifies each candidate. Zero false
    negatives — output is identical to the O(n²) loop.

    Scale: one token-frequency aggregate (map-side combined), one per-doc
    re-sort shuffle, a candidate join keyed by rare tokens (bounded fan-out
    by construction; residual hot prefixes are AQE skew-join territory),
    and an id-keyed verify join. Per-pair work never materializes a
    cartesian block, unlike natural-key blocking with a fixed-cardinality
    key. Returns ``id_a, id_b, jaccard`` (rounded to 6).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    toks = F.array_distinct(
        F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda x: x != "")
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    tok = base.select("id", F.explode("toks").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    # re-aggregate each doc's tokens sorted by (global freq, token): struct
    # ordering makes array_sort give the canonical rarest-first order
    sorted_docs = materialize(
        tok.join(  # freq is vocabulary-sized
            merge_pinned(freq, pin_shuffle_join), "token"
        )
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("freq", "token"))),
                lambda s: s["token"],
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
        # prefix length |x| - ceil(t·|x|) + 1; round() kills the float-ulp
        # noise in t·|x| so ceil can't overshoot on exact multiples
        .withColumn(
            "prefix",
            F.slice(
                "toks",
                1,
                F.col("sz")
                - F.ceil(F.round(F.lit(threshold) * F.col("sz"), 6)).cast("int")
                + 1,
            ),
        )
    )
    prefixes = sorted_docs.select(
        "id", "sz", F.explode("prefix").alias("token")
    )
    pa = prefixes.alias("pa")
    pb = merge_pinned(prefixes.alias("pb"), pin_shuffle_join)
    candidates = (
        pa.join(
            pb,
            (F.col("pa.token") == F.col("pb.token"))
            & (F.col("pa.id") < F.col("pb.id"))
            # length filter: |y| ∈ [t·|x|, |x|/t] (generous bounds, exactness
            # comes from the verify step)
            & (
                F.col("pb.sz")
                >= F.floor(F.round(F.lit(threshold) * F.col("pa.sz"), 6))
            )
            & (
                F.col("pb.sz")
                <= F.ceil(F.round(F.col("pa.sz") / F.lit(threshold), 6))
            ),
        )
        .select(
            F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b")
        )
        .distinct()
    )
    ta = merge_pinned(
        sorted_docs.select(
            F.col("id").alias("id_a"), F.col("toks").alias("toks_a"), F.col("sz").alias("sz_a")
        ),
        pin_shuffle_join,
    )
    tb = merge_pinned(
        sorted_docs.select(
            F.col("id").alias("id_b"), F.col("toks").alias("toks_b"), F.col("sz").alias("sz_b")
        ),
        pin_shuffle_join,
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    out = (
        candidates.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter / (F.col("sz_a") + F.col("sz_b") - inter), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def cross_corpus_jaccard_pairs(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    hash_fn=hash64,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Incremental (new-batch-vs-index) EXACT n-gram Jaccard dedup: every
    ``(new_id, index_id, jaccard)`` pair with jaccard ≥ ``threshold`` —
    the continuous-ingestion shape, where each crawl/delivery must be
    deduped against the corpus ALREADY ingested without re-comparing the
    index against itself.

    Plan shape mirrors :func:`ngram_jaccard_pairs` but the self-join
    becomes a new×index join keyed on the shared integer shingle — only
    documents sharing a gram ever meet, never |new| × |index|. At 100 TB
    the index side's exploded shingles are the materialized artifact you
    keep between deliveries (write them bucketed by shingle hash and the
    join is co-located, shuffle-free on the index side).
    ``max_shingle_df`` is the stop-gram valve, measured on the INDEX side
    (the big one) and applied to both join inputs; set sizes always come
    from the uncapped sets, so a capped run can only UNDER-report jaccard
    (one-sided loss on pairs whose every shared gram is corpus-hot) —
    unset, the result is exact.
    """
    new_sh = materialize(
        with_hashed_shingles(_ensure_parallelism(new_df), text_col, k, hash_fn=hash_fn)
        .select(F.col(id_col).alias("new_id"), "shingle_hashes")
    )
    idx_sh = materialize(
        with_hashed_shingles(_ensure_parallelism(index_df), text_col, k, hash_fn=hash_fn)
        .select(F.col(id_col).alias("index_id"), "shingle_hashes")
    )
    new_tok = new_sh.select("new_id", F.explode("shingle_hashes").alias("_sh"))
    idx_tok = idx_sh.select("index_id", F.explode("shingle_hashes").alias("_sh"))
    if max_shingle_df is not None:
        hot = materialize(
            idx_tok.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_sh")
        )
        new_tok = new_tok.join(F.broadcast(hot), "_sh", "left_anti")
        idx_tok = idx_tok.join(F.broadcast(hot), "_sh", "left_anti")
    inter = (
        new_tok.join(merge_pinned(idx_tok, pin_shuffle_join), "_sh")
        .groupBy("new_id", "index_id")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    n_sz = merge_pinned(
        new_sh.select("new_id", F.size("shingle_hashes").alias("_n_a")),
        pin_shuffle_join,
    )
    i_sz = merge_pinned(
        idx_sh.select("index_id", F.size("shingle_hashes").alias("_n_b")),
        pin_shuffle_join,
    )
    out = (
        inter.join(n_sz, "new_id")
        .join(i_sz, "index_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.col("_n_a") + F.col("_n_b") - F.col("_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", "jaccard")
    )
    return out


def weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    k: int = 3,
    threshold: float = 0.4,
    hash_fn=hash64,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """IDF-weighted Jaccard similarity for pairs within a blocking key:
    J_w(A,B) = Σ_{t∈A∩B} idf(t) / Σ_{t∈A∪B} idf(t) with
    idf(t) = ln(N / df(t)) over distinct shingles — the
    discriminative-overlap upgrade of plain Jaccard: boilerplate shingles
    every document carries contribute almost nothing, so two documents
    only score high when they share RARE content (the signal plain
    Jaccard dilutes on template-heavy corpora).

    Same set-oriented plan as :func:`ngram_jaccard_pairs` — explode
    distinct shingles, self-join on (block, shingle), one weighted-sum
    aggregate per pair, per-doc total weights joined back — plus one
    extra corpus pass for document frequencies (vocabulary-sized frame,
    shuffle-joined on the shingle key: the vocabulary grows with the
    corpus, so it is pinned non-broadcast like every other corpus-sized
    input here). |A∪B| weight = W_A + W_B − I, so no union materializes.
    The blocking column bounds join fan-out exactly as in the unweighted
    operator."""
    sh = materialize(
        with_hashed_shingles(
            _ensure_parallelism(df), text_col, k, hash_fn=hash_fn
        )
        .select(block_col, id_col, F.col("shingle_hashes"))
    )
    ex = sh.select(
        block_col, id_col, F.explode("shingle_hashes").alias("shingle")
    )
    n_docs = sh.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    dft = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_t"))
    idf = (
        dft.join(F.broadcast(n_docs))
        .select("shingle", F.log(F.col("_n") / F.col("df_t")).alias("idf"))
    )
    exw = ex.join(merge_pinned(idf, pin_shuffle_join), "shingle")
    wd = exw.groupBy(id_col).agg(F.sum("idf").alias("w"))
    a = exw.alias("a")
    b = merge_pinned(exw.alias("b"), pin_shuffle_join)
    inter = (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.sum("a.idf").alias("i_w"))
    )
    wa = merge_pinned(
        wd.select(F.col(id_col).alias("id_a"), F.col("w").alias("w_a")),
        pin_shuffle_join,
    )
    wb = merge_pinned(
        wd.select(F.col(id_col).alias("id_b"), F.col("w").alias("w_b")),
        pin_shuffle_join,
    )
    out = (
        inter.join(wa, "id_a")
        .join(wb, "id_b")
        .withColumn(
            "wjaccard",
            F.round(
                F.col("i_w")
                / (F.col("w_a") + F.col("w_b") - F.col("i_w")),
                6,
            ),
        )
        .filter(F.col("wjaccard") >= threshold)
        .select("id_a", "id_b", "wjaccard")
    )
    return out


# ---------------------------------------------------------------------------
# Collapse-and-expand: replica-exact near-dup pipelines (round 9)
# ---------------------------------------------------------------------------
#
# On duplication-heavy corpora the minhash candidate graph's replica pairs
# grow with copies² and dominate every pairs-consuming pipeline (clusters,
# survivor corpus, histograms, participation flags) even though those
# pipelines REDUCE the pairs to linear-sized artifacts. The helpers below
# compute the same artifacts on exact-dedup representatives and expand the
# answer back over the replicas — PROVABLY identical to the full (unvalved)
# computation, because exact replicas have identical normalized text ->
# identical shingles -> identical MinHash signatures -> identical band
# membership:
#
#   * every replica set of size >= 2 is a clique in the full candidate
#     graph (all copies share every bucket);
#   * a cross-text candidate edge exists between ANY copies of texts t, u
#     iff it exists between their representatives;
#   * therefore full-graph components = representative-graph components
#     expanded with each member text's replica set, plus one component per
#     multi-copy text whose representative is isolated;
#   * and each component's min id = min over its representatives (each
#     representative IS the min of its replica set), so cluster ids match
#     the full computation exactly.
#
# Cost: one content-hash aggregate + doc-grain joins (linear) + the whole
# near-dup pipeline on DISTINCT texts only.


def replica_map(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc replica mapping ``(id_col, rep_id, n_copies)``:
    ``rep_id`` = min id among docs with identical normalized text,
    ``n_copies`` = that text's copy count. One hash aggregate + one
    doc-grain join (both corpus-sized sides pinned sort-merge)."""
    keyed = df.select(
        F.md5(normalize_text(F.col(text_col))).alias("_ch"), F.col(id_col)
    )
    groups = keyed.groupBy("_ch").agg(
        F.min(id_col).alias("rep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return keyed.join(merge_pinned(groups), "_ch").select(
        id_col, "rep_id", "n_copies"
    )


def near_dup_clusters_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """``(node, cluster_id)`` over the FULL corpus, computed on exact-dedup
    representatives and expanded over replicas — identical output to
    ``cluster_pairs(minhash_near_dup_pairs(df))`` (see the module-level
    proof above) at linear cost in the corpus. ``max_bucket_size`` valves
    the REPRESENTATIVE-level banding (distinct texts), where a hot bucket
    is genuine boilerplate rather than replication."""
    with cache_scope():
        m = materialize(replica_map(df, text_col, id_col))
        reps = df.join(
            merge_pinned(
                m.filter(F.col(id_col) == F.col("rep_id")).select(id_col)
            ),
            id_col,
        )
        with cache_scope():
            pairs = minhash_near_dup_pairs(
                reps,
                text_col,
                id_col,
                k=k,
                n_hashes=n_hashes,
                n_bands=n_bands,
                max_bucket_size=max_bucket_size,
            )
            repcl = cluster_pairs(pairs)  # eager (localCheckpoint'd)
        return (
            m.join(
                merge_pinned(repcl), m.rep_id == repcl.node, "left"
            )
            .where((F.col("n_copies") > 1) | F.col("cluster_id").isNotNull())
            .select(
                F.col(id_col).alias("node"),
                F.coalesce("cluster_id", F.col("rep_id")).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)  # pin so the mapping cache can go
        )


def near_dup_participants_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct ids of documents that participate in at least one full-
    corpus MinHash candidate pair — identical to unioning both sides of
    ``minhash_near_dup_pairs(df)`` without enumerating replica pairs:
    a doc participates iff its text has >= 2 copies (replica clique) OR
    its representative participates at the representative level."""
    with cache_scope():
        m = materialize(replica_map(df, text_col, id_col))
        reps = df.join(
            merge_pinned(
                m.filter(F.col(id_col) == F.col("rep_id")).select(id_col)
            ),
            id_col,
        )
        with cache_scope():
            pairs = minhash_near_dup_pairs(
                reps,
                text_col,
                id_col,
                k=k,
                n_hashes=n_hashes,
                n_bands=n_bands,
                max_bucket_size=max_bucket_size,
            )
            part = (
                pairs.select(F.col("id_a").alias("rep_id"))
                .union(pairs.select(F.col("id_b").alias("rep_id")))
                .distinct()
                .localCheckpoint(eager=True)  # pin before releasing shingle caches
            )
        return (
            m.join(merge_pinned(part), "rep_id", "left_semi")
            .select(id_col)
            .union(m.filter(F.col("n_copies") > 1).select(id_col))
            .distinct()
            .localCheckpoint(eager=True)  # pin so the mapping cache can go
        )
