"""SARIF → OCSF conversion as one lazy DataFrame program.

Capability parity with the reference converter
(scripts/converters/sarif_to_ocsf.py:84-470 — a per-run/per-result Python
loop), re-expressed as `explode(runs)` → `explode(results)` → a single
`select` of Column expressions. No UDFs: every per-record function of the
reference (P1–P9 in SURVEY.md §2.3) is a Catalyst expression, so the whole
conversion is one whole-stage-codegen'd projection that scales linearly with
input splits.

Semantic notes (reference file:line):
- severity map sarif_to_ocsf.py:51-56,314-325 (missing level → "none").
- tool metadata :213-234 (name default "UNKNOWN"; semanticVersion ?? version).
- created_time :236-259 (first *parseable* invocations[].startTimeUtc, else
  conversion-time now, epoch ms).
- scan_run_id :261-292 (automationDetails.id ?? .guid ??
  "<tool>_run_<first startTimeUtc>" ?? null).
- rules lookup :294-312 → **broadcast hash join** on (document, run,
  ruleId); duplicate rule ids keep the last one (Python dict semantics)
  via a max-position window. A row-local map was tried first and is a
  scale trap: Catalyst pulls the map-building projection above the
  results explode, so every generated row drags the whole multi-MB `run`
  struct (8 GB heap OOM at just 10k findings). The narrow per-run columns
  are therefore materialized behind a repartition barrier — which also
  spreads each run's results across the cluster instead of one task —
  and rule metadata arrives via broadcast, costing O(|rules|) per
  executor instead of O(|rules| × |results|) row payload.
- title/desc :327-367 (title = ruleId or "ruleId: shortDescription";
  desc = message.text, else first location's region.snippet.text, else "").
- vulnerabilities :369-446 (result.properties.cwe ?? rule.properties.cwe,
  lists joined with ", "; location truthiness — 0/"" are falsy like Python;
  CWE "UNKNOWN" when location-only; null when neither).
- fingerprints enrichment :448-470 (fingerprints or partialFingerprints,
  empty dict falsy).
- per-run scan_metadata auto-injection :113-127.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..session import session_memo

# OCSF constants for class 2007 (reference: base_converter.py:38-60)
CLASS_NAME = "Application Security Posture Finding"
CLASS_UID = 2007
CATEGORY_UID = 2
CATEGORY_NAME = "Findings"
ACTIVITY_ID = 2
ACTIVITY_NAME = "Update"
TYPE_UID = CLASS_UID * 100 + ACTIVITY_ID  # 200702
OCSF_VERSION = "1.5.0"
UNKNOWN = "UNKNOWN"
FILE_TYPE_REGULAR = 1

PLACEHOLDER_UID = "PLACEHOLDER_UID"


def _severity_id(level: Column) -> Column:
    return (
        F.when(level == "error", F.lit(5))
        .when(level == "warning", F.lit(4))
        .when(level == "note", F.lit(2))
        .otherwise(F.lit(1))
    )


def _severity_name(level: Column) -> Column:
    return (
        F.when(level == "error", F.lit("High"))
        .when(level == "warning", F.lit("Medium"))
        .when(level == "note", F.lit("Informational"))
        .otherwise(F.lit("Unknown"))
    )


def _nonempty(c: Column) -> Column:
    """Python truthiness for strings: null and '' are both falsy."""
    return F.nullif(c, F.lit(""))


def _join_cwe(cwe: Column) -> Column:
    """A SARIF cwe property may be a scalar or a list; the schema keeps
    non-scalars as JSON text, which we re-split and join with ', '
    (reference list handling sarif_to_ocsf.py:400-402)."""
    is_list = cwe.startswith("[")
    joined = F.array_join(F.from_json(cwe, ArrayType(StringType())), ", ")
    return F.when(is_list, joined).otherwise(cwe)


class _ConvertColumns(NamedTuple):
    """The fixed column sets of ``convert_sarif_to_ocsf``, one per step."""

    doc_id: Column
    runs: tuple[Column, ...]
    per_run: tuple[Column, ...]
    rules: tuple[Column, ...]
    rule_present: Column
    rule_rank: Column
    rule_last: Column
    rules_side: tuple[Column, ...]
    results: tuple[Column, ...]
    result_present: Column
    join_on: Column
    findings: tuple[Column, ...]


def convert_sarif_to_ocsf(sarif_df: DataFrame, now_ms: int | None = None) -> DataFrame:
    """Convert parsed SARIF rows (one per file, `SARIF_SCHEMA`-shaped) into
    OCSF finding rows.

    Returns one row per SARIF result with the OCSF envelope as top-level
    columns (matching `schemas.OCSF_FINDING_SCHEMA`) plus lineage columns
    `_run_index` and, when present on the input, `_source_file`.

    `now_ms` pins the wall-clock used for `time` and the created_time
    fallback (tests); production leaves it None → per-batch
    `current_timestamp()`. It enters the plan as the `_now` column, so the
    column sets (built once per session, `session_memo`) do not depend on it.
    """
    now_col = (
        F.lit(now_ms).cast("long")
        if now_ms is not None
        else F.unix_millis(F.current_timestamp())
    )
    lineage = "_source_file" in sarif_df.columns
    spark = sarif_df.sparkSession
    c = session_memo(
        spark, ("plans.convert", lineage), lambda: _convert_columns(lineage)
    )

    runs = sarif_df.withColumns({"_doc_id": c.doc_id, "_now": now_col}).select(
        *c.runs
    )
    # Narrow per-run columns, materialized once per run. The repartition is
    # a deliberate optimizer barrier AND the scale lever: without it the
    # per-run expressions float above the results explode, forcing every
    # generated row to carry the full `run` struct; with it, one run's
    # results also fan out across the cluster instead of one task.
    per_run = runs.select(*c.per_run).repartition(
        spark.sparkContext.defaultParallelism
    )

    # rules as a (small) broadcast side: last rule wins for duplicate ids
    # (Python dict build semantics, reference :304-312)
    rules_side = (
        per_run.select(*c.rules)
        .where(c.rule_present)
        .withColumn("_rn", c.rule_rank)
        .filter(c.rule_last)
        .select(*c.rules_side)
    )
    results = per_run.select(*c.results).where(c.result_present)
    return results.join(F.broadcast(rules_side), c.join_on, "left").select(
        *c.findings
    )


def _convert_columns(lineage: bool) -> _ConvertColumns:
    """Build every Column of the conversion; ``lineage``: whether the input
    carries ``_source_file``."""
    lineage_cols = [F.col("_source_file")] if lineage else []
    driver = F.col("run.tool.driver")
    inv = F.col("run.invocations")

    # first parseable startTimeUtc → epoch ms (reference :236-259)
    parsed_starts = F.filter(
        F.transform(inv, lambda i: F.unix_millis(F.to_timestamp(i["startTimeUtc"]))),
        lambda t: t.isNotNull(),
    )
    # first present (not necessarily parseable) startTimeUtc (reference :283-289)
    first_start_raw = F.element_at(
        F.filter(
            F.transform(inv, lambda i: i["startTimeUtc"]), lambda s: s.isNotNull()
        ),
        1,
    )
    tool_name = F.coalesce(driver["name"], F.lit(UNKNOWN))
    per_run = (
        *lineage_cols,
        F.col("_doc_id"),
        F.col("_run_index"),
        tool_name.alias("_tool_name"),
        F.coalesce(driver["semanticVersion"], driver["version"]).alias("_tool_version"),
        F.coalesce(F.element_at(parsed_starts, 1), F.col("_now")).alias(
            "_created_time"
        ),
        F.coalesce(
            F.col("run.automationDetails.id"),
            F.col("run.automationDetails.guid"),
            F.concat(tool_name, F.lit("_run_"), first_start_raw),
        ).alias("_scan_run_id"),
        F.col("_now"),
        driver["rules"].alias("_rules_arr"),
        F.col("run.results").alias("_results"),
    )

    rules = (
        F.col("_doc_id"),
        F.col("_run_index"),
        F.posexplode_outer("_rules_arr").alias("_rule_pos", "_rule"),
    )
    rules_side = (
        F.col("_doc_id").alias("_r_doc_id"),
        F.col("_run_index").alias("_r_run_index"),
        F.col("_rule.id").alias("_rule_id"),
        F.col("_rule.shortDescription.text").alias("_rule_short_desc"),
        F.col("_rule.properties.cwe").alias("_rule_cwe"),
    )
    last_wins = Window.partitionBy("_doc_id", "_run_index", "_rule.id").orderBy(
        F.desc("_rule_pos")
    )
    results = (
        *lineage_cols,
        *[
            F.col(n)
            for n in (
                "_doc_id",
                "_run_index",
                "_tool_name",
                "_tool_version",
                "_created_time",
                "_scan_run_id",
                "_now",
            )
        ],
        F.explode_outer("_results").alias("result"),
    )
    join_on = (
        (F.col("_doc_id") == F.col("_r_doc_id"))
        & (F.col("_run_index") == F.col("_r_run_index"))
        & (F.col("result.ruleId") == F.col("_rule_id"))
    )

    r = F.col("result")
    level = F.coalesce(r["level"], F.lit("none"))
    rule_id = F.coalesce(r["ruleId"], F.lit(UNKNOWN))

    short_desc = _nonempty(F.col("_rule_short_desc"))
    title = F.when(
        short_desc.isNotNull(), F.concat(rule_id, F.lit(": "), short_desc)
    ).otherwise(rule_id)

    loc = F.element_at(r["locations"], 1)["physicalLocation"]
    snippet = loc["region"]["snippet"]["text"]
    desc = F.coalesce(_nonempty(r["message"]["text"]), snippet, F.lit(""))

    # --- vulnerability (reference :369-446) ---
    # Python truthiness on each source: '' AND an empty JSON list ('[]' in
    # the string-typed schema) are both absent — `if cwe:` in the reference
    # (sarif_to_ocsf.py:400) skips [] and falls back to the rule's cwe.
    def _cwe_present(c: Column) -> Column:
        return F.nullif(_nonempty(c), F.lit("[]"))

    cwe_raw = F.coalesce(
        _cwe_present(r["properties"]["cwe"]), _cwe_present(F.col("_rule_cwe"))
    )
    cwe_joined = _join_cwe(cwe_raw)
    has_cwe = cwe_joined.isNotNull()

    file_path = _nonempty(loc["artifactLocation"]["uri"])
    start_line = F.nullif(loc["region"]["startLine"], F.lit(0))
    end_line = F.nullif(loc["region"]["endLine"], F.lit(0))
    has_location = (
        file_path.isNotNull() | start_line.isNotNull() | end_line.isNotNull()
    )

    file_struct = F.when(
        file_path.isNotNull(),
        F.struct(
            F.element_at(F.split(file_path, "/"), -1).alias("name"),
            file_path.alias("path"),
            F.lit(FILE_TYPE_REGULAR).alias("type_id"),
        ),
    )
    affected_code = F.when(
        has_location,
        F.array(
            F.struct(
                file_struct.alias("file"),
                start_line.alias("start_line"),
                end_line.alias("end_line"),
            )
        ),
    )
    null_str = F.lit(None).cast("string")
    vulnerability = F.when(
        has_cwe | has_location,
        F.struct(
            F.struct(
                F.coalesce(cwe_joined, F.lit(UNKNOWN)).alias("uid"),
                null_str.alias("caption"),
            ).alias("cwe"),
            F.lit(None)
            .cast(
                "struct<uid:string,related_cwes:array<struct<uid:string,caption:string>>>"
            )
            .alias("cve"),
            affected_code.alias("affected_code"),
            F.lit(None)
            .cast("array<struct<name:string,version:string,purl:string>>")
            .alias("affected_packages"),
            F.lit(None).cast("array<string>").alias("references"),
        ),
    )

    # --- enrichments (reference :448-470 + scan_metadata injection :113-127) ---
    fp = F.when(F.size(r["fingerprints"]) > 0, r["fingerprints"]).otherwise(
        r["partialFingerprints"]
    )
    fp_enrichment = F.when(
        F.size(fp) > 0,
        F.array(
            F.struct(
                F.lit("fingerprints").alias("name"),
                F.lit("SARIF fingerprints").alias("value"),
                F.lit("fingerprints").alias("type"),
                fp.alias("data"),
            )
        ),
    )
    scan_meta_enrichment = F.when(
        F.col("_scan_run_id").isNotNull(),
        F.array(
            F.struct(
                F.lit("scan_metadata").alias("name"),
                F.lit("Scan metadata").alias("value"),
                F.lit("custom").alias("type"),
                F.create_map(F.lit("scan_run_id"), F.col("_scan_run_id")).alias(
                    "data"
                ),
            )
        ),
    )
    empty_enr = F.array().cast(
        "array<struct<name:string,value:string,type:string,data:map<string,string>>>"
    )
    enrichments = F.concat(
        F.coalesce(fp_enrichment, empty_enr),
        F.coalesce(scan_meta_enrichment, empty_enr),
    )
    enrichments = F.when(F.size(enrichments) > 0, enrichments)

    findings = (
        *lineage_cols,
        F.col("_run_index"),
        F.lit(CLASS_NAME).alias("class_name"),
        F.lit(CLASS_UID).alias("class_uid"),
        F.lit(CATEGORY_UID).alias("category_uid"),
        F.lit(CATEGORY_NAME).alias("category_name"),
        F.lit(ACTIVITY_ID).alias("activity_id"),
        F.lit(ACTIVITY_NAME).alias("activity_name"),
        F.lit(TYPE_UID).alias("type_uid"),
        F.col("_now").alias("time"),
        _severity_id(level).alias("severity_id"),
        _severity_name(level).alias("severity"),
        F.lit(1).alias("status_id"),
        F.lit("New").alias("status"),
        F.struct(
            F.struct(
                F.col("_tool_name").alias("name"),
                F.col("_tool_version").alias("version"),
            ).alias("product"),
            F.lit(OCSF_VERSION).alias("version"),
        ).alias("metadata"),
        F.struct(
            F.lit(PLACEHOLDER_UID).alias("uid"),
            title.alias("title"),
            desc.alias("desc"),
            null_str.alias("src_url"),
            F.col("_created_time").alias("created_time"),
        ).alias("finding_info"),
        F.when(vulnerability.isNotNull(), F.array(vulnerability)).alias(
            "vulnerabilities"
        ),
        enrichments.alias("enrichments"),
    )
    return _ConvertColumns(
        doc_id=F.monotonically_increasing_id(),
        runs=(
            *lineage_cols,
            F.col("_doc_id"),
            F.col("_now"),
            F.posexplode_outer("runs").alias("_run_index", "run"),
        ),
        per_run=per_run,
        rules=rules,
        rule_present=F.col("_rule.id").isNotNull(),
        rule_rank=F.row_number().over(last_wins),
        rule_last=F.col("_rn") == 1,
        rules_side=rules_side,
        results=results,
        result_present=F.col("result").isNotNull(),
        join_on=join_on,
        findings=findings,
    )


def ocsf_to_json(ocsf_df: DataFrame) -> DataFrame:
    """Render OCSF finding rows back to JSON text (K1 parity — the
    reference writes a JSON array file, base_converter.py:110-125).
    Null fields are omitted, like Python's dict-building converter."""
    payload = F.struct(
        *[c for c in ocsf_df.columns if not c.startswith("_")]
    )
    return ocsf_df.select(
        *[F.col(c) for c in ocsf_df.columns if c.startswith("_")],
        F.col("finding_info.uid").alias("finding_uid"),
        F.to_json(payload).alias("raw_ocsf_json"),
    )
