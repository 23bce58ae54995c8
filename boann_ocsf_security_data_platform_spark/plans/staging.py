"""Staging transformation: flatten raw OCSF JSON into typed columns.

Parity with the reference's dbt staging model
(dbt_project/models/staging/stg_ocsf_findings.sql:18-163 — PostgreSQL JSONB
operators). Every correlated ``jsonb_array_elements`` subquery becomes a
higher-order array function — NO explode, NO shuffle: the whole model is a
single codegen'd projection, so it scales with scan bandwidth alone.

PostgreSQL-semantics notes carried over:
- per-row "first matching array element LIMIT 1" (stg:40-45,138-160)
  → ``element_at(filter(...), 1)`` (array order preserved);
- ``jsonb_agg`` over zero rows yields NULL, not an empty array
  → every aggregated array column is wrapped ``when(size(x) > 0, x)``;
- ``jsonb_agg(DISTINCT ...)`` emits values in sorted order
  → ``array_sort(array_distinct(...))``;
- ``TO_TIMESTAMP(NULLIF(ms::numeric/1000.0, 0))`` (stg:49-51)
  → ``timestamp_millis(nullif(created_time, 0))`` (exact, no float step);
- incremental high-water mark (stg:22-28): only landing rows with
  ``loaded_at`` strictly greater than ``MAX(staging_loaded_at)`` of the
  existing target.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import OCSF_FINDING_SCHEMA
from ..session import max_records_per_file, session_memo


def _first_enrichment(enr: Column, name: str) -> Column:
    """Correlated `LIMIT 1` over the enrichments array (stg:40-45)."""
    return F.element_at(F.filter(enr, lambda e: e["name"] == name), 1)


def _nonempty_or_null(arr: Column) -> Column:
    """jsonb_agg returns NULL (not []) when no rows aggregate."""
    return F.when(F.size(arr) > 0, arr)


def high_water_mark(spark: SparkSession, staging_path: str) -> datetime.datetime:
    """MAX(staging_loaded_at) of the existing target, epoch when absent
    (stg:24-28 COALESCE(..., '1970-01-01'))."""
    epoch = datetime.datetime(1970, 1, 1)
    # existence check through the Hadoop FS API (works for any URI scheme)
    # instead of a try/except read, which logs a noisy stacktrace
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(staging_path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return epoch
    existing = spark.read.parquet(staging_path)
    row = existing.agg(F.max("staging_loaded_at").alias("hwm")).collect()[0]
    return row["hwm"] or epoch


def stage(landing_df: DataFrame, hwm: datetime.datetime | None = None) -> DataFrame:
    """Build stg_ocsf_findings from landing rows.

    ``hwm``: optional high-water mark; when given, only rows with
    ``loaded_at > hwm`` are processed (incremental append). With a
    date-partitioned landing table the filter prunes partitions at scan.
    """
    df = landing_df
    if hwm is not None:
        df = df.filter(F.col("loaded_at") > F.lit(hwm))
    ocsf, columns = session_memo(
        landing_df.sparkSession, "plans.staging.stage", _stage_columns
    )
    return df.withColumn("ocsf", ocsf).select(*columns)


def _stage_columns() -> tuple[Column, tuple[Column, ...]]:
    """(typed ``ocsf`` view, the stg_ocsf_findings projection over it):
    fixed for the session, so ``stage`` builds them once (session_memo)."""
    # Typed view over the raw document; the raw string column stays the
    # fidelity source of truth (unknown fields live only there).
    ocsf = F.from_json("raw_ocsf_json", OCSF_FINDING_SCHEMA)

    o = F.col("ocsf")
    enr = o["enrichments"]
    vulns = F.coalesce(
        o["vulnerabilities"],
        F.array().cast(OCSF_FINDING_SCHEMA["vulnerabilities"].dataType),
    )

    # affected_packages of all vulnerabilities, flattened (stg:69-77)
    all_pkgs = F.flatten(
        F.transform(
            F.filter(vulns, lambda v: v["affected_packages"].isNotNull()),
            lambda v: v["affected_packages"],
        )
    )

    # vulnerability subset keeping the code↔package relationship (stg:84-94)
    vuln_subset = F.transform(
        F.filter(
            vulns,
            lambda v: v["affected_packages"].isNotNull()
            | v["affected_code"].isNotNull(),
        ),
        lambda v: F.struct(
            v["affected_code"].alias("affected_code"),
            v["affected_packages"].alias("affected_packages"),
        ),
    )

    # CWEs: direct ∪ related-to-CVE, distinct, sorted (stg:96-116)
    direct_cwes = F.transform(
        F.filter(vulns, lambda v: v["cwe"]["uid"].isNotNull()),
        lambda v: v["cwe"]["uid"],
    )
    related_cwes = F.filter(
        F.flatten(
            F.transform(
                F.filter(vulns, lambda v: v["cve"]["related_cwes"].isNotNull()),
                lambda v: F.transform(v["cve"]["related_cwes"], lambda rc: rc["uid"]),
            )
        ),
        lambda x: x.isNotNull(),
    )
    all_cwes = F.array_sort(F.array_distinct(F.concat(direct_cwes, related_cwes)))

    # CVEs (stg:118-126) and references (stg:128-136)
    all_cves = F.array_sort(
        F.array_distinct(
            F.transform(
                F.filter(vulns, lambda v: v["cve"]["uid"].isNotNull()),
                lambda v: v["cve"]["uid"],
            )
        )
    )
    all_refs = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.filter(vulns, lambda v: v["references"].isNotNull()),
                    lambda v: v["references"],
                )
            )
        )
    )

    return ocsf, (
        F.col("finding_uid"),
        o["metadata"]["product"]["name"].alias("tool_name"),
        o["metadata"]["product"]["version"].alias("tool_version"),
        F.element_at(
            _first_enrichment(enr, "scan_metadata")["data"], "scan_run_id"
        ).alias("scan_run_id"),
        F.timestamp_millis(
            F.nullif(o["finding_info"]["created_time"], F.lit(0))
        ).alias("detected_at"),
        F.col("loaded_at").alias("staging_loaded_at"),
        o["finding_info"]["title"].alias("finding_title"),
        o["finding_info"]["desc"].alias("finding_description"),
        o["finding_info"]["src_url"].alias("finding_src_url"),
        o["severity"].alias("finding_severity"),
        o["status"].alias("finding_status"),
        o["activity_name"].alias("finding_activity_name"),
        o["remediation"]["desc"].alias("finding_remediation"),
        F.coalesce(
            o["resources"], F.array().cast(OCSF_FINDING_SCHEMA["resources"].dataType)
        ).alias("resources_jsonb"),
        _nonempty_or_null(all_pkgs).alias("affected_packages_jsonb"),
        _nonempty_or_null(vuln_subset).alias("vulnerabilities_subset_jsonb"),
        _nonempty_or_null(all_cwes).alias("finding_cwes"),
        _nonempty_or_null(all_cves).alias("finding_cves"),
        _nonempty_or_null(all_refs).alias("finding_references"),
        _first_enrichment(enr, "rh_sdlc_source")["value"].alias("finding_source"),
        _first_enrichment(enr, "affected_components").alias(
            "enrichments_affected_components_jsonb"
        ),
        _first_enrichment(enr, "jira_status").alias("enrichments_jira_status_jsonb"),
    )


def write_staging(stg_df: DataFrame, path: str, mode: str = "append") -> None:
    """Incremental-append materialization with schema evolution
    (stg:5-9: incremental_strategy='append',
    on_schema_change='append_new_columns')."""
    (
        stg_df.withColumn("load_date", F.to_date(F.col("staging_loaded_at")))
        .write.mode(mode)
        .option("mergeSchema", "true")
        # guide §6 file sizing: split oversized write tasks; never merges
        .option("maxRecordsPerFile", max_records_per_file())
        .partitionBy("load_date")
        .parquet(path)
    )
