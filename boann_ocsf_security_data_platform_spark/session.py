"""SparkSession factory with scale-oriented defaults.

Single place where engine-wide physical-execution policy lives:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
UTC session time, Arrow for any pandas exchange, nested-schema pruning for
the OCSF struct columns, and a parallel file-listing job of at most one
task per core. Tests and the bench harness all come through here so plans
are comparable.
"""

from __future__ import annotations

import os
import weakref
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Defaults chosen for the 4-core local[4] box the benchmark and tests run
# on; on a real cluster these are overridden by spark-submit conf.
# shuffle.partitions is deliberately modest locally — AQE coalesces further
# (32, 8 and 4 time the same on the CORE15 analytics pass at local[4]) —
# while at 100 TB you would raise it to O(cores * 2-4) and rely on AQE's
# target post-shuffle size instead.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # 64 MB broadcast threshold: every dim table in the star schema
    # (region/nation/supplier/part/customer at bench SF) broadcasts.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: engine contract is permissive-null arithmetic (PostgreSQL's
    # NULLIF guards are re-expressed explicitly where the reference used them).
    "spark.sql.ansi.enabled": "false",
    # Python-dict semantics for duplicate map keys wherever maps are built
    # from data (e.g. fingerprints); the reference's dict builds keep the
    # last value for a repeated key.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.shuffle.partitions": "32",
    # Parquet TIMESTAMP(NANOS) columns (events.ts in the test tables) read
    # as long nanoseconds; sources.catalog converts them to µs timestamps,
    # the same truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` under every
    # explode; for a COMPUTED array (shingles, n-grams) predicate pushdown
    # then drags the whole expensive expression below the repartition and
    # evaluates it serially on the raw input's split count — measured 126×
    # slower (55 s → 0.4 s) on the 50k-doc shingle explode. The filter is
    # redundant for correctness (explode already emits nothing for
    # empty/null arrays), so exclude the rule engine-wide.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # In local mode the driver heap IS the executor heap; 8g fits the test
    # and bench scales. Scale instruments (tools/time_sweep.py at sf10+)
    # override via SPARK_GRAFT_DRIVER_MEM — only effective for the process
    # that launches the JVM, like any driver-memory setting.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # HotSpot gives an allocating thread only TWO GC-locker retries before
    # throwing OutOfMemoryError even when the heap has room — with 32
    # executor threads in one JVM doing JNI-critical work (parquet/zstd
    # native buffers, Arrow), humongous sort-array allocations hit that
    # limit under load and kill the driver spuriously (round-11 sf100
    # sweeps: "Retried waiting for GCLocker too often"). Raise the retry
    # budget; this changes failure behavior only, never results.
    # IgnoreUnrecognizedVMOptions must come FIRST: GCLockerRetryAllocation
    # Count is a diagnostic flag that newer JDKs (post-GCLocker-rework)
    # removed, and with +UnlockDiagnosticVMOptions an unknown option
    # aborts JVM startup — the ignore flag turns "every session fails to
    # launch on JDK 21+" into "the retry budget is simply absent there".
    "spark.driver.extraJavaOptions": (
        "-XX:+IgnoreUnrecognizedVMOptions -XX:+UnlockDiagnosticVMOptions "
        "-XX:GCLockerRetryAllocationCount=64"
    ),
    "spark.ui.enabled": "false",
}


LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def merge_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """Engine defaults overlaid with caller conf. extraJavaOptions MERGES
    (caller flags appended, so they win on conflict) rather than
    replacing — a caller tuning, say, GC logging must not silently drop
    the GC-locker retry budget, and vice versa (ADVICE r11 #3)."""
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        jvm_key = "spark.driver.extraJavaOptions"
        if jvm_key in extra_conf and extra_conf[jvm_key] != conf[jvm_key]:
            conf[jvm_key] = f"{conf[jvm_key]} {extra_conf[jvm_key]}"
        conf.update(
            {k: v for k, v in extra_conf.items() if k != jvm_key}
        )
    return conf


def max_records_per_file(default: int = 250_000) -> int:
    """Target file-sizing for the table writers (guide §6: aim for output
    files in the 128 MB – 1 GB band; AQE coalescing alone leaves the file
    count an artifact of the shuffle partition count, so a 100 TB write
    can emit arbitrarily large files per partition). ``maxRecordsPerFile``
    splits any write task's output at this row count — it never merges,
    so tiny test-scale batches keep their single file per task and the
    byte-stable parity fixtures are untouched. The default assumes the
    OCSF landing/staging row shape (~0.5–2 KB serialized: a JSON finding
    blob or the wide staged row), putting the split point at roughly
    128 MB – 500 MB per file. Production deployments with different row
    widths size it via SPARK_GRAFT_MAX_RECORDS_PER_FILE (0 disables)."""
    try:
        return int(
            os.environ.get("SPARK_GRAFT_MAX_RECORDS_PER_FILE", default)
        )
    except ValueError:
        return default


def get_spark(
    app_name: str = "boann-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = merge_conf(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Above parallelPartitionDiscovery.threshold paths (32) Spark lists
    # files with a job of one task per path, capped only at 10000, so the
    # streaming file source's getBatch relisting of a 50-file micro-batch
    # would queue 50 tasks on 4 slots. Tasks beyond the slot count add
    # scheduling, never concurrency: cap the job at one task per core. The
    # session conf holds spark-submit and builder values alike (on an
    # existing context builder values land only there), so an explicit
    # setting is never replaced.
    if spark.conf.get(LISTING_PARALLELISM, None) is None:
        spark.conf.set(LISTING_PARALLELISM, str(spark.sparkContext.defaultParallelism))
    return spark


T = TypeVar("T")

# SparkContext -> {key: value}; an entry lives exactly as long as the
# context it was built under.
_MEMOS: "weakref.WeakKeyDictionary[SparkContext, dict]" = (
    weakref.WeakKeyDictionary()
)


def session_memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """Return ``build()``, built once per live SparkContext and ``key``.

    For driver-side plan pieces that come out the same on every call:
    Column tuples, StructTypes, table counts. Building them costs py4j
    round-trips (hundreds for a higher-order-function projection) that
    would otherwise repeat on every pass. Never memoize a DataFrame:
    reusing one shares its attribute ids, which breaks self-joins.

    ``key`` must not carry per-call values (a timestamp, a high-water
    mark, a run id) or the memo grows without bound; feed those to the
    memoized expression as a literal column or a filter outside it. A
    stopped or restarted context gets a fresh memo, so nothing built
    against one JVM context is handed to another."""
    memo = _MEMOS.setdefault(spark.sparkContext, {})
    try:
        return memo[key]
    except KeyError:
        # setdefault: a concurrent build of the same key (a streaming
        # foreachBatch thread) gets the value stored first
        return memo.setdefault(key, build())
