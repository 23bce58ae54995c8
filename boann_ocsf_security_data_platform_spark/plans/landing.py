"""Landing layer: append-only, duplicate-preserving Parquet table.

Reference contract (dbt_project/models/landing/raw_ocsf_findings.sql:24-40,
scripts/ingest_raw_ocsf_findings.py:79-129): ``finding_uid TEXT,
raw_ocsf_json JSONB, loaded_at TIMESTAMPTZ`` — append-only, NO unique key;
the same finding_uid appearing in multiple scans stays as separate rows.

Spark re-conception: the reference's one-INSERT-one-transaction-per-finding
loop (its throughput cliff) becomes a single distributed append. ``loaded_at``
is one ``current_timestamp()`` per batch (the reference's DB-side
CURRENT_TIMESTAMP per row differs only in microsecond jitter between rows of
the same batch). Physical layout replaces the reference's btree indexes:
partitioned by ``load_date`` so the staging high-water-mark filter prunes
whole partitions, with Parquet min/max stats standing in for the
``finding_uid`` index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import max_records_per_file


def land(
    findings_json_df: DataFrame,
    path: str,
    mode: str = "append",
    batch_id: int | None = None,
) -> None:
    """Append findings (columns ``finding_uid``, ``raw_ocsf_json`` — from
    ``plans.convert.ocsf_to_json`` or an OCSF batch source) to the landing
    table at ``path``.

    Fail-fast semantics (reference ingest_raw_ocsf_findings.py:125-127) are
    Spark's native all-or-nothing job commit: no partial batch is visible.

    ``batch_id`` (the streaming micro-batch id) upgrades at-least-once to
    effectively-once: rows are partitioned by ``_batch_id`` and written with
    DYNAMIC partition overwrite, so a replayed micro-batch overwrites its
    own partition instead of appending duplicates. (Caveat: a replay that
    crosses midnight writes a new ``load_date`` sub-partition and leaves the
    previous day's — same at-least-once floor the reference's re-ingest
    has.)

    ONE physical layout for both modes — ``(_batch_id, load_date)`` — with
    the sentinel ``_batch_id = -1`` for plain batch appends (no replay
    bookkeeping to key on). Both the CLI ``ingest`` path and the streaming
    monitor feed the same table (the reference has a single
    raw_ocsf_findings); mixing two partition layouts under one root makes
    the table unreadable (CONFLICTING_PARTITION_COLUMN_NAMES), so batch
    appends MUST carry the sentinel partition rather than omit the column.
    """
    # keep any extra (non-lineage) columns: on_schema_change='append_new_columns'
    extra = [
        c
        for c in findings_json_df.columns
        if c not in ("finding_uid", "raw_ocsf_json", "loaded_at", "load_date")
        and not c.startswith("_")
    ]
    loaded_at = F.current_timestamp()  # one value per query
    out = findings_json_df.select(
        "finding_uid",
        "raw_ocsf_json",
        *extra,
        loaded_at.alias("loaded_at"),
        F.to_date(loaded_at).alias("load_date"),
        # -1: the non-replayable sentinel of a batch append
        F.lit(-1 if batch_id is None else int(batch_id)).alias("_batch_id"),
    )
    writer = (
        out.write.option("mergeSchema", "true")  # on_schema_change='append_new_columns'
        # guide §6 file sizing: split oversized write tasks; never merges
        .option("maxRecordsPerFile", max_records_per_file())
        .partitionBy("_batch_id", "load_date")
    )
    if batch_id is None:
        writer.mode(mode).parquet(path)
    else:
        # dynamic: only this batch's partitions. A writer option, so the
        # session conf other threads read stays as it is.
        writer.mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(path)


def read_landing(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("mergeSchema", "true").parquet(path)
