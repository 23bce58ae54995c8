"""Streaming exact deduplication.

The streaming mirror of ``operators.dedup.exact_dedup``: the SAME
``normalize_text``/md5 fingerprint expressions (one code path — no
second dedup implementation to drift), a persisted content-hash store
for cross-batch duplicates, and within-batch min-id survivorship. Kept
documents and the hash store are written with batch_id-keyed dynamic
partition overwrite, so micro-batch REPLAYS overwrite their own output
instead of duplicating it — the same exactly-once discipline as
streaming/neardup.py and the landing sink.

At 100 TB the per-batch cost is one hash aggregate over the batch plus
one equi-join against a two-narrow-column store; the store is bounded
by distinct content hashes and retired with :func:`prune_hash_store`
(the dedup-within-horizon trade, same semantics as Spark's
``dropDuplicatesWithinWatermark``).

SURVIVORSHIP CONTRACT (r7 ADVICE #3): cross-batch survivorship is
FIRST-SEEN-BATCH, min-id within that batch. This equals batch
``exact_dedup``'s global min-id keep-set exactly when document ids are
monotone with arrival order (later batches carry larger ids) — true for
log/event/ingest ids, and the assumption the batch-parity test
(tests/test_streaming.py::test_streaming_exact_dedup_matches_batch)
encodes. A non-monotone source (e.g. backfill replays with old ids)
keeps the first-ARRIVED copy instead of the globally-min id; that is a
survivorship-policy difference, not a dedup bug — the set of distinct
contents kept is identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from boann_ocsf_security_data_platform_spark.operators.cache import (
    cache_scope,
    materialize,
)
from boann_ocsf_security_data_platform_spark.operators.dedup import normalize_text


def _store_schema(id_col: str, id_type) -> StructType:
    return StructType(
        [
            StructField("content_hash", StringType()),
            StructField(id_col, id_type),
            StructField("_batch_id", LongType()),
        ]
    )


def _read_store(
    spark: SparkSession, store_dir: str, id_col: str, id_type
) -> DataFrame:
    try:
        return spark.read.schema(_store_schema(id_col, id_type)).parquet(
            store_dir
        )
    except Exception as e:  # noqa: BLE001 - first batch: no store yet
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame(
                [], _store_schema(id_col, id_type)
            )
        raise


def start_exact_dedup_stream(
    stream_df: DataFrame,
    store_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    trigger_seconds: int = 5,
):
    """Attach the exact-dedup filter to a streaming document frame.

    Emits surviving (id, content_hash) rows under ``kept_dir`` — the
    first-seen copy of each distinct content, min-id within a batch —
    and maintains the content-hash store under ``store_dir``. Replays
    overwrite their own batch partition. Returns the StreamingQuery —
    caller owns its lifecycle."""
    spark = stream_df.sparkSession
    id_type = stream_df.schema[id_col].dataType

    def _dedup(batch_df: DataFrame, batch_id: int) -> None:
        with cache_scope():
            winners = materialize(
                batch_df.select(
                    F.md5(normalize_text(F.col(text_col))).alias(
                        "content_hash"
                    ),
                    F.col(id_col),
                )
                .groupBy("content_hash")
                .agg(F.min(id_col).alias(id_col))
            )
            prev = _read_store(spark, store_dir, id_col, id_type).select(
                "content_hash"
            )
            # materialize the anti-join BEFORE any write: the second write
            # below overwrites store_dir, and a lazy `kept` plan would
            # re-scan store_dir (via `prev`) while it is being overwritten
            # — works on Spark 4.1 dynamic overwrite but is fragile across
            # engines (r7 ADVICE #1). localCheckpoint pins the rows.
            kept = winners.join(
                prev, "content_hash", "left_anti"
            ).localCheckpoint()
            (
                kept.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(kept_dir)
            )
            (
                kept.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_dir)
            )

    writer = stream_df.writeStream.foreachBatch(_dedup).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_kept_docs(spark: SparkSession, kept_dir: str) -> DataFrame:
    """All surviving documents so far: one (content_hash, id) row per
    distinct content, min id across batches (a hash can appear in at
    most one batch partition because later batches anti-join the
    store)."""
    return spark.read.parquet(kept_dir).drop("_batch_id")


def prune_hash_store(
    spark: SparkSession, store_dir: str, keep_from_batch_id: int
) -> None:
    """Bounded-state valve: drop store partitions older than
    ``keep_from_batch_id``. After pruning, re-sent copies of documents
    seen only in retired batches are kept again — the documented
    dedup-within-horizon trade.

    Pruning goes through the Hadoop FileSystem API (r7 ADVICE #2), so it
    honors the SAME path contract as the Spark writers that build the
    store: any URI Spark can write (local, HDFS, object stores with the
    right connector jars) can be pruned — no silent no-op on non-local
    filesystems."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith("_batch_id="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid < keep_from_batch_id:
                fs.delete(status.getPath(), True)
