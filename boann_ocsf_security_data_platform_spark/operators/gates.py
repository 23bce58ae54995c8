"""Size gates: the one place that knows a size bound.

Every size-based PLAN choice in the engine asks one question — is this
measured row count above a grain's bound? — through :func:`over` and the
:data:`THRESHOLDS` table. The count is a bounded scalar (one metadata-cheap
``count()``): it picks which plan is built, never what data is moved.

Pairwise operators (near-dup pair enumeration, fuzzy entity resolution,
hubness profiling, threshold sweeps) have two arms dispatched through
:func:`size_gated`:

- an EXACT arm whose output the DuckDB oracle pins at sf0.01/sf0.1 — often
  quadratic within blocks, fine at gate scale, fatal at 100 TB;
- a bounded SCALE arm (LSH blocking sized by ``auto_n_planes``,
  deterministic per-block candidate caps, exact-dedup-first collapse)
  whose super-linear terms are all capped, at the documented cost of being
  an approximation with pinned invariants.

``tools/plan_audit.py`` (``pairwise gate discipline``) fails when a query
source touches a pairwise primitive without routing through ``size_gated``,
the pairwise gate or a primitive skew valve, or carrying a documented
inherent-output rationale.

Join inputs that scale with the data are pinned to sort-merge above their
grain's bound (:func:`merge_pinned`), and unfiltered fact joins above the
fact bound get a count-sized shuffle (:func:`sized_shuffle`).
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

T = TypeVar("T")

# Row-count bounds by grain; a plan choice engages strictly ABOVE its bound.
THRESHOLDS: dict[str, int] = {
    # Default gate for the embeddings/documents pairwise families: below
    # this, within-block exact pair enumeration is oracle-pinnable and
    # cheap; above it, LSH re-blocking / candidate caps / exact-dedup-first
    # collapse engage.
    "pairwise_exact": 10_000,
    # Fuzzy entity resolution gates later (its exact arm is a blocked
    # equi-join + banded Levenshtein, not all-pairs, so it stays cheap
    # longer); above it the block key widens and the candidate panel is
    # capped.
    "fuzzy_exact": 50_000,
    # Corpus size (documents / vectors) above which the minhash LSH bucket
    # valve engages and the corpus-scaling join inputs are pinned to
    # sort-merge. Below it the valve's degenerate case is UNREACHABLE, not
    # merely cheap: the minhash family collapses exact replicas to
    # representatives first (at the pairwise_exact bound, far below this
    # one), so a band bucket can only saturate with *distinct* texts that
    # happen to share a band, and distinct-text bucket mass stays near
    # LSH_TARGET_BUCKET by plane-count construction. Every derived frame
    # (exploded shingles at ~100 grams/doc ≈ 20M rows worst case) also
    # provably fits a broadcast build, and the static broadcast saves two
    # shuffles on the bench-scale path. Above it a mis-estimated broadcast
    # build OOMs (the 10x sweep's BroadcastExchange failures).
    "docs": 200_000,
    # Scaling-dimension (customer/part-grain) join sides. TPC-H-style dims
    # scale WITH the corpus (only region/nation are fixed), but their
    # replicated text columns compress so well that a column-pruned scan
    # estimates far below the broadcast threshold: at sf100 the 15M-row
    # customer table is 128 MB on disk and a 2-column projection of it
    # estimated ~30 MB, so Catalyst planned a BroadcastHashJoin whose
    # build side is really ~15M rows — BroadcastExchange OOM at the
    # default heap (feature_loo_target_encoding, agg_cramers_v). Below the
    # bound a dim broadcast build is measured-safe (sf10's 1.5M-row
    # customer ≈ tens of MB built, swept clean); above it, pin sort-merge.
    # The customer×supplier theta-join COUNT gates here too: below it the
    # streamed pair volume is small (≤ ~0.4 B pairs) and the literal
    # broadcast join wins; above it the quadratic stream is the hazard and
    # the order-statistics domain form engages.
    "dim": 2_000_000,
    # Fact (lineitem/orders-grain) inputs: co-order graphs, basket mining,
    # per-order rollup joins. Below this the derived frames (distinct
    # (order, part) streams, degree tables, per-item support tables) stay
    # well inside a safe broadcast build even at ~50B/row; above it the
    # 10x sweep showed estimate-driven broadcasts inflating past driver
    # memory (the fleiss/simpson OOMs at 60M lineitem rows). sf1's 6M rows
    # stay below (measured safe), sf10's 60M engage the pin. Exact grouped
    # percentiles gate here as well: Spark's Percentile aggregate merges
    # every per-group value map onto ONE reducer, which is ~4x cheaper
    # than the distributed domain-count form while the map is bounded and
    # the concentration hazard above this bound.
    "fact": 10_000_000,
    # Broadcast of a measured key set (one long per qualifying key):
    # 5M keys ≈ 40 MB build; above it the key set joins sort-merge.
    "key_set": 5_000_000,
}


def over(name: str, n: int) -> bool:
    """Is the measured count ``n`` above the ``name`` grain's bound?"""
    return n > THRESHOLDS[name]


# Expected LSH bucket size the scale arms hold via auto_n_planes: pair work
# per bucket stays ~TARGET² regardless of corpus size.
LSH_TARGET_BUCKET = 64
# Deterministic per-block candidate-panel cap (ordered by xxhash64(id), so
# the cut is engine-independent): pair work becomes n × cap even when exact
# replicas defeat any plane count.
MAX_BLOCK_CANDIDATES = 64
# Fuzzy-ER keeps a larger panel: its downstream filter (Levenshtein ≤ 4 +
# top-3 per probe) is far more selective than a cosine threshold, so the
# panel must stay wide enough that true matches survive the cut.
MAX_FUZZY_BLOCK_CANDIDATES = 256
# Skew valve for banded-LSH candidate generation (minhash family): a
# degenerate band bucket of b members contributes b² candidate pairs, so a
# saturated bucket (mass exact-duplication that belongs to exact dedup
# upstream) is dropped rather than enumerated. 1000 members = ≤0.5M pairs
# per bucket worst-case; no test-scale bucket comes within an order of
# magnitude of it, so engaging the valve never changes oracle output at
# the gate scales.
MAX_LSH_BUCKET = 1_000
# Stop-gram valve for shingle-inverted-index joins (containment /
# cross-corpus): shingles whose document frequency exceeds this are
# boilerplate that pairs everything with everything; dropping them bounds
# index fan-out. Mirrors the df valve the containment operator documents.
MAX_SHINGLE_DF = 1_000
# Per-sort-task row target for sized fact shuffles: ~4M narrow fact rows
# ≈ 130 MB unsafe sort memory — spills rarely, and a spilled merge holds
# few enough files that the per-reader read-ahead buffers (unmanaged
# heap, ~2 MB each) stay bounded. At the session default of 32 shuffle
# partitions a FULL-fact sort-merge join (q8 at sf100) sorts 19M rows per
# task, and 32 concurrent tasks × two sides × dozens of spill readers
# OOM'd the default 8g heap in the merge phase.
FACT_SORT_TARGET_ROWS = 4_000_000


def lsh_valve(n: int) -> "int | None":
    """``max_bucket_size`` for the minhash family on a corpus of ``n``
    measured documents: MAX_LSH_BUCKET above the docs bound, None (exact
    LSH semantics) below."""
    return MAX_LSH_BUCKET if over("docs", n) else None


def merge_pinned(df: DataFrame, pin: bool = True) -> DataFrame:
    """Mark a join input that scales WITH the data (exploded shingles,
    banded signatures, per-doc rollups, blocked vector frames, edge and
    degree tables) so the planner can never broadcast it: ``hint("merge")``
    pins the join to sort-merge.

    Why a pin and not trust in the optimizer: Catalyst's size estimate for
    these frames propagates through explode/aggregate and lands far BELOW
    ``autoBroadcastJoinThreshold`` even when the true size is gigabytes —
    at a 10x test scale the planner chose BroadcastHashJoin with the
    50M-row exploded shingle frame as the build side and died in
    BroadcastExchange ("Not enough memory to build and broadcast"); at
    100 TB the same misestimate is guaranteed. Bounded frames (stop-gram
    lists, oversized-bucket lists, centroids, ≤1024-bucket models) stay
    explicit ``F.broadcast`` calls.

    ``pin=False`` keeps planner freedom — callers thread it from a
    MEASURED count (``over("docs", n)`` / ``over("fact", n)``): below the
    bound every frame provably fits a broadcast build, and the static
    broadcast saves two shuffles on the bench-scale path (measured 2x on
    the minhash/ngram core entries). A plan choice made from a known
    bounded count is the size-gate discipline; only estimate-driven
    broadcasts are the hazard."""
    return df.hint("merge") if pin else df


def sized_shuffle(df: DataFrame, key: str, n_rows: int) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` to ~FACT_SORT_TARGET_ROWS rows
    per sort task of a measured ``n_rows`` (32..2048 partitions) instead
    of the session-wide default. Both sides of a join sized with the SAME
    ``n_rows`` get matching partition counts, so the sort-merge join
    reuses the partitioning: this IS the join's shuffle, just sized."""
    parts = min(2048, max(32, n_rows // FACT_SORT_TARGET_ROWS + 1))
    return df.repartition(parts, F.col(key))


def size_gated(
    df: DataFrame,
    exact_arm: Callable[[DataFrame, int], T],
    scale_arm: Callable[[DataFrame, int], T],
    name: str,
    n_rows: int | None = None,
) -> T:
    """Dispatch between the oracle-pinned exact arm and the bounded scale
    arm on corpus size against the ``name`` bound. Both arms receive
    ``(df, n_rows)`` and may return anything (a DataFrame, a (df, planes)
    tuple, …). ``n_rows`` short-circuits the count when the caller
    already has it."""
    n = df.count() if n_rows is None else n_rows
    return scale_arm(df, n) if over(name, n) else exact_arm(df, n)
