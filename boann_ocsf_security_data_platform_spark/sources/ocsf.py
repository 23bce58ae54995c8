"""OCSF batch-file source (S2/S3/S5 — reference:
scripts/ingest_raw_ocsf_findings.py:131-179 and scripts/ocsf_monitor.py:144-159,408-510).

A `*.ocsf.json` file is a JSON **array** of findings; the reference gates on
the extension, loads with json.load, and fails the whole file on malformed
JSON. Here each file is read as ONE whole-text row and the array is split
into per-finding raw JSON strings JVM-side, so `raw_ocsf_json` keeps every
field of the original document — including attributes outside the fixed OCSF
schema (custom enrichment payloads, unmapped fields) — matching the
reference's verbatim `raw_ocsf_json=event` JSONB insert
(ingest_raw_ocsf_findings.py:115-123). No schema round-trip ever touches the
stored text. URI backends (file://, gs://, s3a://...) are delegated to the
Hadoop FileSystem layer, so the reference's dual-backend resolution (S4/S5)
needs no custom code — a `gs://` path just works when the connector is on
the classpath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import session_memo


def read_ocsf_files(reader, paths) -> DataFrame:
    """One row per ``*.ocsf.json`` file: its whole text as ``value`` plus
    ``_source_file``. ``reader`` is ``spark.read`` or ``spark.readStream``
    with any other options already set; ``paths`` is what its ``.text()``
    takes. ``wholetext`` goes to ``.text()`` itself because that keyword's
    default (False) overrides an earlier ``.option("wholetext", True)`` —
    a pretty-printed array then reads one row per line and every line
    fails to parse."""
    return reader.text(paths, wholetext=True).withColumn(
        "_source_file", F.input_file_name()
    )


def split_findings(whole_text: F.Column) -> F.Column:
    """Split one JSON-array document into per-finding raw JSON strings.

    ``from_json`` to ``array<string>`` copies each element's tokens verbatim
    (field order and unknown attributes preserved; inter-token whitespace
    normalized — the same fidelity level as the reference's Postgres JSONB,
    which also normalizes whitespace). Malformed JSON and non-array roots
    yield NULL, the per-file fail signal.
    """
    return F.from_json(whole_text, "array<string>")


def lacks_uid(finding: F.Column) -> F.Column:
    """True for a non-null finding without ``finding_info.uid`` — the
    reference's insert key (ingest_raw_ocsf_findings.py:115-118)."""
    return finding.isNotNull() & F.get_json_object(
        finding, "$.finding_info.uid"
    ).isNull()


def findings_ok(findings: F.Column) -> F.Column:
    """Per-file verdict over ``split_findings`` output, computed inside the
    file's own row: the array parsed and no finding lacks a uid. ``[]`` and
    NULL elements are OK (they land nothing). The uid gate is stricter than
    the reference (which ``.get()``s and inserts a NULL finding_uid): it
    keeps the dbt ``not_null`` contract on finding_uid enforceable
    downstream instead of landing rows that are certain to fail quality
    checks."""
    return findings.isNotNull() & ~F.exists(findings, lacks_uid)


def explode_findings(files: DataFrame) -> DataFrame:
    """Landing-shaped rows (``finding_uid``, verbatim ``raw_ocsf_json``)
    from a frame's ``_findings`` column (``split_findings`` output), NULL
    elements dropped. Only the array rides the explode, so no exploded row
    carries its file's whole findings array (a column kept beside a
    Generate lands in its requiredChildOutput — same Catalyst trap as the
    converter's run-struct explode, see plans/convert.py)."""
    explode, uid = session_memo(
        files.sparkSession, "sources.ocsf.explode_findings", _explode_columns
    )
    return files.select(explode).select(uid, "raw_ocsf_json")


def _explode_columns() -> tuple[F.Column, F.Column]:
    return (
        F.explode(F.filter("_findings", lambda s: s.isNotNull())).alias(
            "raw_ocsf_json"
        ),
        F.get_json_object("raw_ocsf_json", "$.finding_info.uid").alias(
            "finding_uid"
        ),
    )
