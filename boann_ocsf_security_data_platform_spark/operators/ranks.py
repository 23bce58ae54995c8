"""Running aggregates over a global order, without a single-task sort.

A window ordered over a whole frame (``Window.orderBy`` with no partition
key, or partitioned by a handful of values) sorts the whole grain in one
task per partition: 437 s for a 150M-row skyline at sf100, 390 s for
three chained RFM ntiles over 15M customers, 144 s for five priority
partitions of the order fact. This module is the one place that knows
how such an order is split into quantile buckets instead:

- :func:`quantile_bounds` sketches bucket bounds for any number of
  columns in ONE ``approxQuantile`` action (at most ``BUCKETS - 1``
  doubles per column, never data);
- :func:`bucket` assigns a bucket that RESPECTS the order: every row of
  bucket i sorts before every row of bucket i+1, and equal values always
  share a bucket (the assignment depends on the value alone);
- :func:`running` decomposes a running ``row_number`` or ``sum`` exactly
  into (aggregate over all earlier buckets, a prefix over the tiny
  bucket-summary table) + (in-bucket window over ``partitionBy(bkt)``).

The bounds' quality affects only bucket balance, never values, so the
sketch's nondeterminism is harmless. Integer sums and row numbers are
bit-exact against the literal window (integer addition is associative);
double sums add the same in-bucket terms in the same order after one
prefix term.

:func:`ntile_of` is ntile's remainder rule in closed form, and
:func:`percentiles_by_group` is the exact grouped ``percentile_cont``
built on the same decomposition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import materialize
from .gates import over

# Quantile buckets per ordered column.
BUCKETS = 200
# The bucket column :func:`running` adds; plan checks look for "bkt" in
# window partition specs.
BKT = "bkt"
# The prefix column :func:`running` joins in: the aggregate over every
# earlier bucket (of the same ``by`` group).
PREV = "_prev"


def quantile_bounds(df: DataFrame, cols: Sequence[str]) -> list[list[float]]:
    """Sorted distinct bucket bounds for each of ``cols``, from ONE
    approxQuantile action over ``df``. Empty lists for an empty frame."""
    probs = [i / BUCKETS for i in range(1, BUCKETS)]
    return [
        sorted(set(b))
        for b in df.stat.approxQuantile(list(cols), probs, 0.001)
    ]


def bucket(col: str, bounds: Sequence[float], ascending: bool = True) -> Column:
    """The bucket of ``col`` under ``bounds``: how many bounds sort strictly
    before the value. ``col`` must be non-null."""
    if not bounds:
        return F.lit(0)
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    v = F.col(col)
    before = (lambda b: b < v) if ascending else (lambda b: b > v)
    return F.size(F.filter(arr, before))


def running(
    df: DataFrame,
    col: str,
    *,
    ascending: bool = True,
    by: Sequence[str] = (),
    tie: Sequence[str] = (),
    sum_col: str | None = None,
    inclusive: bool = True,
    bounds: Sequence[float] | None = None,
    base: DataFrame | None = None,
) -> tuple[DataFrame, Column]:
    """A running aggregate over the order (``col``, then ``tie`` ascending)
    within each ``by`` group, bucket-decomposed.

    Returns ``(frame, value)``: ``frame`` is ``df`` with its ``bkt``
    bucket and the broadcast-joined ``_prev`` prefix, and ``value`` the
    column to select from it (or from any join of it): the number of
    rows (``sum_col=None``, i.e. ``row_number``) or the sum of
    ``sum_col`` up to and including the row (``inclusive``) or strictly
    before it. Callers pick the columns, so the window is evaluated
    after any joins they add.

    ``bounds`` reuses a sketch already taken (several orders sharing one
    :func:`quantile_bounds` action); otherwise ``df`` is sketched here.
    Prefix counts come from ``base`` (default ``df``): a caller chaining
    running columns passes its BASE frame, since a prefix branch over a
    frame that already carries earlier windows re-executes each of them.
    ``df`` feeds the sketch action, the prefix branch and the windowed
    join, so a caller whose ``df`` ends in a costly scan materializes it
    first (unmaterialized, the Kruskal-Wallis plan ran its
    orders⋈customer join five times)."""
    if bounds is None:
        (bounds,) = quantile_bounds(df, [col])
    bkt = bucket(col, bounds, ascending)
    by = list(by)
    w_in = Window.partitionBy(*by, BKT).orderBy(
        F.asc(col) if ascending else F.desc(col), *map(F.asc, tie)
    )
    if sum_col is None:
        per_bucket = F.count(F.lit(1))
        value = F.row_number().over(w_in)
        if not inclusive:
            value = value - 1
    else:
        per_bucket = F.sum(sum_col)
        value = F.sum(sum_col).over(
            w_in.rowsBetween(
                Window.unboundedPreceding,
                Window.currentRow if inclusive else -1,
            )
        )
        if not inclusive:
            value = F.coalesce(value, F.lit(0))
    w_pre = (
        Window.partitionBy(*by)
        .orderBy(BKT)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        (df if base is None else base)
        .withColumn(BKT, bkt)
        .groupBy(*by, BKT)
        .agg(per_bucket.alias("_bn"))
        .select(
            *by,
            BKT,
            F.coalesce(F.sum("_bn").over(w_pre), F.lit(0)).alias(PREV),
        )
    )
    framed = df.withColumn(BKT, bkt).join(F.broadcast(prefix), [*by, BKT])
    return framed, F.col(PREV) + value


def ntile_of(r: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` of the 1-based row rank ``r`` among ``n`` rows: the
    first ``n % k`` tiles take one extra row."""
    q = F.floor(n / k)
    rem = n % k
    thr = rem * (q + 1)
    return (
        F.when(r <= thr, F.floor((r - 1) / (q + 1))).otherwise(
            rem + F.floor((r - thr - 1) / q)
        )
        + 1
    )


def ntiles(
    df: DataFrame,
    specs: Sequence[tuple[str, bool, str]],
    key_col: str,
    k: int,
) -> DataFrame:
    """Exact ``ntile(k)`` columns over the orders (value, ``key_col``):
    ``specs`` is [(value_col, ascending, out_col), ...]; the key
    tie-break stays ascending. Bit-identical to the literal ntile. All
    specs share ONE sketch action, and each prefix counts the base
    ``df``, so no spec re-executes an earlier one's window."""
    all_bounds = quantile_bounds(df, [s[0] for s in specs])
    nn = df.agg(F.count(F.lit(1)).alias("_n"))
    out = df.crossJoin(F.broadcast(nn))
    for (col, asc, name), bounds in zip(specs, all_bounds):
        framed, r = running(
            out, col, ascending=asc, tie=(key_col,), bounds=bounds, base=df
        )
        out = framed.withColumn(name, ntile_of(r, F.col("_n"), k)).drop(
            BKT, PREV
        )
    return out.drop("_n")


def grouped_percentile_cont(
    df: DataFrame,
    part_col: str,
    value_col: str,
    ps: Sequence[tuple[float, str]],
) -> DataFrame:
    """Exact per-group ``percentile_cont`` without concentrating a group's
    value domain in one task. Spark's exact Percentile aggregate carries
    an OpenHashMap of value -> count per group, merges every map of a
    group onto ONE reducer and sorts it there: bounded on replicated
    domains, O(rows) on a genuinely continuous column.

    The same counts, distributed: one hash aggregate builds the (group,
    value) domain with row counts, the exclusive running count of
    :func:`running` gives each domain row its 0-based starting index,
    and the percentile is Spark's own interpolation over the two
    straddled order statistics: pos = p*(n-1), result =
    v_lo*(ceil(pos)-pos) + v_hi*(pos-floor(pos)) — the identical doubles
    Percentile emits. ``ps`` is [(fraction, out_col), ...]; returns one
    row per group with the named percentile columns, from ONE scan of
    ``df``.

    PRECONDITION: every group must have at least one non-null
    ``value_col`` row. An all-null group is dropped here (the null
    filter precedes the groupBy) but kept, with a NULL percentile, by
    the native ordered-set arm of :func:`percentiles_by_group`, so the
    arms would diverge on it. A caller whose grouping can produce one
    must left-join its distinct group keys back."""
    # dv feeds the sketch action, the bucketed join chain and the
    # per-group total: unmaterialized, each re-ran the scan of df
    dv = materialize(
        df.where(F.col(value_col).isNotNull())  # percentile ignores nulls
        .groupBy(part_col, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    framed, cb = running(
        dv, value_col, by=(part_col,), sum_col="_c", inclusive=False
    )
    nn = dv.groupBy(part_col).agg(F.sum("_c").alias("_n"))
    # idx is re-filtered once per requested percentile: materialized, a
    # three-percentile caller pays the bucketed pipeline once
    idx = materialize(
        framed.join(F.broadcast(nn), part_col).select(
            part_col, value_col, "_c", "_n", cb.alias("_cb")
        )
    )
    out = None
    for p, name in ps:
        pos = F.lit(float(p)) * (F.col("_n") - 1)
        lower, higher = F.floor(pos), F.ceil(pos)
        hit = idx.filter(
            (F.col("_cb") <= higher) & (lower < F.col("_cb") + F.col("_c"))
        )
        v = F.col(value_col)
        one = hit.groupBy(part_col).agg(
            F.when(F.min(lower) == F.max(higher), F.min(v))
            .otherwise(
                F.min(v) * (F.max(higher) - F.max(pos))
                + F.max(v) * (F.max(pos) - F.min(lower))
            )
            .alias(name)
        )
        out = one if out is None else out.join(one, part_col)
    return out


def percentiles_by_group(
    df: DataFrame,
    part_col: str,
    value_col: str,
    ps: Sequence[tuple[float, str]],
    n_rows: int,
) -> DataFrame:
    """Exact grouped ``percentile_cont``, gated on the measured ``n_rows``
    of the fact table behind ``df``: at or below the fact bound Spark's
    own ordered-set aggregate runs (one pass, its per-group value-count
    map bounded there, and 3-6x faster than the distributed form at
    sf0.1 on 4 cores); above it :func:`grouped_percentile_cont`
    distributes the identical computation. Both arms emit bit-identical
    doubles.

    ``n_rows`` is a proxy for the percentile input's size: a caller
    feeding a filtered slice engages the distributed form a bit earlier
    than strictly needed, a plan choice that never changes values.
    Inherits :func:`grouped_percentile_cont`'s non-null-per-group
    precondition."""
    if over("fact", n_rows):
        return grouped_percentile_cont(df, part_col, value_col, ps)
    return df.groupBy(part_col).agg(
        *[
            F.expr(
                f"percentile_cont({float(p)!r}) WITHIN GROUP"
                f" (ORDER BY `{value_col}`)"
            ).alias(name)
            for p, name in ps
        ]
    )
