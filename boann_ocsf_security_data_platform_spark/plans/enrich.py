"""Enrichment framework: plugins as Column-emitting DataFrame transforms.

Reference surface (SURVEY.md §2.4): an ABC plugin called once per finding
dict (scripts/enrichments/base.py:12-75) folded over findings with
per-plugin error isolation (scripts/converters/base_converter.py:88-108).

Spark re-conception: an enrichment is a ``DataFrame -> DataFrame`` transform
that *emits Column expressions* — zero per-row Python, zero serialization;
the fold is function composition and the whole enrichment pipeline fuses
into the converter's single codegen'd projection. Plugins that genuinely
need arbitrary Python can override ``apply`` with a ``pandas_udf``
(Arrow-vectorized) — the escape hatch, not the default.
"""

from __future__ import annotations

import importlib.util
import inspect
import logging
import sys
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hash_fns import normalize_name, sha256_hex
from ..session import session_memo

logger = logging.getLogger(__name__)

_ENRICHMENT_DT = (
    "array<struct<name:string,value:string,type:string,data:map<string,string>>>"
)


# scan_run_id of ScanMetadataEnrichment, as a literal column: the memoized
# enrichment expression reads it from here instead of embedding the value
_SCAN_RUN_ID = "_enrich_scan_run_id"


def _appended(has_enrichments: bool, enrichment: Column) -> Column:
    """The ``enrichments`` array column with one enrichment struct appended
    (created when absent — reference base.py behavior of
    ``finding.setdefault``-style appends)."""
    existing = (
        F.coalesce(F.col("enrichments"), F.array().cast(_ENRICHMENT_DT))
        if has_enrichments
        else F.array().cast(_ENRICHMENT_DT)
    )
    return F.concat(existing, F.array(enrichment))


def _append_enrichment(df: DataFrame, enrichment: Column) -> DataFrame:
    """Append one enrichment struct to the ``enrichments`` array column
    (the helper plugins build on)."""
    return df.withColumn(
        "enrichments", _appended("enrichments" in df.columns, enrichment)
    )


class ColumnEnrichment:
    """Base enrichment plugin (reference: scripts/enrichments/base.py:12-75).

    Subclasses override ``apply`` to return a transformed DataFrame. The
    required-keys validation of the reference (``finding_info`` and
    ``metadata`` present) maps to schema-level validation here: ``validate``
    checks the columns exist on the DataFrame.
    """

    REQUIRED_COLUMNS = ("finding_info", "metadata")

    def get_name(self) -> str:
        return type(self).__name__

    def validate(self, df: DataFrame) -> bool:
        return all(c in df.columns for c in self.REQUIRED_COLUMNS)

    def apply(self, df: DataFrame) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError


def apply_enrichments(
    df: DataFrame, enrichments: list[ColumnEnrichment] | None
) -> DataFrame:
    """Fold enrichments in order with per-plugin isolation: a plugin whose
    expression fails to build/analyze is logged and skipped, never dropping
    data (reference: base_converter.py:88-108 logs and keeps the finding).
    """
    for plugin in enrichments or []:
        try:
            if not plugin.validate(df):
                logger.warning("enrichment %s: validation failed, skipping", plugin.get_name())
                continue
            df = plugin.apply(df)
        except Exception:
            logger.exception("enrichment %s failed; skipped", plugin.get_name())
    return df


class ScanMetadataEnrichment(ColumnEnrichment):
    """Append a ``scan_metadata`` enrichment carrying the scan_run_id
    (reference: scripts/enrichments/scan_metadata.py:16-110; non-empty
    scan_run_id is validated eagerly like the reference dataclass)."""

    def __init__(self, scan_run_id: str):
        if not scan_run_id or not str(scan_run_id).strip():
            raise ValueError("scan_run_id must be a non-empty string")
        self.scan_run_id = str(scan_run_id)

    def apply(self, df: DataFrame) -> DataFrame:
        has = "enrichments" in df.columns
        enrichments = session_memo(
            df.sparkSession,
            ("plans.enrich.scan_metadata", has),
            lambda: _appended(
                has,
                F.struct(
                    F.lit("scan_metadata").alias("name"),
                    F.lit("Scan metadata").alias("value"),
                    F.lit("custom").alias("type"),
                    F.create_map(
                        F.lit("scan_run_id"), F.col(_SCAN_RUN_ID)
                    ).alias("data"),
                ),
            ),
        )
        return (
            df.withColumn(_SCAN_RUN_ID, F.lit(self.scan_run_id))
            .withColumn("enrichments", enrichments)
            .drop(_SCAN_RUN_ID)
        )


class FindingUIDGenerator(ColumnEnrichment):
    """Stable finding UIDs — bit-exact with the reference
    (scripts/enrichments/finding_uid_generator.py).

    Format: ``boann:<sdlc>:<tool>:<fingerprint|hash>:<sha256-hex>``.

    1. Fingerprint path (:182-222): first ``fingerprints`` enrichment with a
       non-empty data map → sort keys alphabetically → take the LAST key's
       value → sha256. (``array_sort(map_keys)`` + ``element_at(-1)``
       replicates Python's ``sorted(keys)[-1]`` for ASCII keys.)
    2. Hash path (:224-298): sha256 of ``"\\n".join([title, file_uri, desc])``.
       ``file_uri`` is ``vulnerabilities[0].affected_code[0].file.path``:
       the reference's dict-shaped accessor (:276-281) expects a *string*
       ``affected_code.file`` (its unit-test shape) and raises on its own
       converter output (where affected_code is a list of objects), leaving
       PLACEHOLDER_UID; this engine defines the component as the file's
       path string — same value the reference hashes in its test vectors,
       and well-defined on real converter output.

    Tool name / sdlc normalization (:147-167): lowercase,
    ``[^a-z0-9]+`` → ``-``, strip hyphens. A ``uid_suffix`` Column factory
    supports custom SDLC types (e.g. ``boann:pentest:jira:key:RHEL-123``,
    reference :59-97) — when given, it replaces the SAST strategy and no
    uid_generation metadata is appended (same as the reference custom path).
    """

    def __init__(self, sdlc_type: str = "sast", uid_suffix=None):
        self.sdlc_type = sdlc_type
        self.uid_suffix = uid_suffix
        self.uid_prefix = "boann"

    def apply(self, df: DataFrame) -> DataFrame:
        if self.uid_suffix is not None:
            suffix = self.uid_suffix(df) if callable(self.uid_suffix) else self.uid_suffix
            sdlc = normalize_name(F.lit(self.sdlc_type))
            uid = F.concat_ws(":", F.lit(self.uid_prefix), sdlc, suffix)
            return df.withColumn(
                "finding_info", F.col("finding_info").withField("uid", uid)
            )

        has = "enrichments" in df.columns
        finding_info, enrichments = session_memo(
            df.sparkSession,
            ("plans.enrich.uid", self.uid_prefix, self.sdlc_type, has),
            lambda: self._uid_columns(has),
        )
        return df.withColumns(
            {"finding_info": finding_info, "enrichments": enrichments}
        )

    def _uid_columns(self, has_enrichments: bool) -> tuple[Column, Column]:
        """(``finding_info`` with the uid set, ``enrichments`` with the
        uid_generation entry appended), both over the input columns."""
        sdlc = normalize_name(F.lit(self.sdlc_type))
        tool = normalize_name(
            F.coalesce(F.col("metadata.product.name"), F.lit("unknown"))
        )

        # fingerprint path
        fp_entry = F.element_at(
            F.filter(
                F.col("enrichments"),
                lambda e: (e["name"] == "fingerprints") & (F.size(e["data"]) > 0),
            ),
            1,
        )
        latest_key = F.element_at(F.array_sort(F.map_keys(fp_entry["data"])), -1)
        fp_hash = sha256_hex(F.element_at(fp_entry["data"], latest_key))

        # hash path
        title = F.coalesce(F.col("finding_info.title"), F.lit(""))
        file_uri = F.coalesce(
            F.element_at(
                F.element_at(F.col("vulnerabilities"), 1)["affected_code"], 1
            )["file"]["path"],
            F.lit(""),
        )
        desc = F.coalesce(F.col("finding_info.desc"), F.lit(""))
        content_hash = sha256_hex(F.concat_ws("\n", title, file_uri, desc))

        method = F.when(fp_hash.isNotNull(), F.lit("fingerprint")).otherwise(
            F.lit("hash")
        )
        uid = F.concat_ws(
            ":",
            F.lit(self.uid_prefix),
            sdlc,
            tool,
            method,
            F.coalesce(fp_hash, content_hash),
        )

        # uid_generation traceability metadata (reference :300-323)
        return (
            F.col("finding_info").withField("uid", uid),
            _appended(
                has_enrichments,
                F.struct(
                    F.lit("uid_generation").alias("name"),
                    F.concat(
                        F.lit("UID generated using "), method, F.lit(" method")
                    ).alias("value"),
                    F.lit(None).cast("string").alias("type"),
                    F.create_map(
                        F.lit("method"), method,
                        F.lit("version"), F.lit("v1"),
                        F.lit("algorithm"), F.lit("sha256"),
                    ).alias("data"),
                ),
            ),
        )


# ---------------------------------------------------------------------------
# Plugin discovery + CLI-style configuration (reference:
# scripts/enrichment_utils.py:20-225 — same driver-level mechanism)
# ---------------------------------------------------------------------------


def discover_enrichments(enrichment_dirs: list[str]) -> list[type]:
    """Import every non-underscore ``.py`` in the given dirs and collect
    ColumnEnrichment subclasses; modules that fail to import are skipped
    with a warning (reference enrichment_utils.py:20-78)."""
    found: list[type] = []
    for d in enrichment_dirs:
        for py in sorted(Path(d).glob("*.py")):
            if py.name.startswith("_"):
                continue
            mod_name = f"_boann_enrichment_{py.stem}"
            try:
                spec = importlib.util.spec_from_file_location(mod_name, py)
                module = importlib.util.module_from_spec(spec)
                sys.modules[mod_name] = module
                spec.loader.exec_module(module)
            except Exception:
                logger.warning("skipping broken enrichment module %s", py, exc_info=True)
                continue
            for _, cls in inspect.getmembers(module, inspect.isclass):
                if (
                    issubclass(cls, ColumnEnrichment)
                    and cls is not ColumnEnrichment
                    and cls.__module__ == mod_name
                ):
                    found.append(cls)
    return found


def parse_enrichment_args(args: list[str] | None) -> dict[str, dict[str, str]]:
    """Parse ``"Name:key=value,key2=value2"`` CLI specs → kwargs per plugin
    name (reference enrichment_utils.py:81-140)."""
    parsed: dict[str, dict[str, str]] = {}
    for spec in args or []:
        name, _, rest = spec.partition(":")
        kwargs: dict[str, str] = {}
        if rest:
            for pair in rest.split(","):
                k, _, v = pair.partition("=")
                if k:
                    kwargs[k.strip()] = v.strip()
        parsed[name.strip()] = kwargs
    return parsed


def instantiate_enrichments(
    classes: list[type], args_by_name: dict[str, dict[str, str]] | None = None
) -> list[ColumnEnrichment]:
    """Instantiate discovered classes with their parsed kwargs; a failing
    constructor skips that plugin (reference enrichment_utils.py:143-185)."""
    args_by_name = args_by_name or {}
    out: list[ColumnEnrichment] = []
    for cls in classes:
        try:
            out.append(cls(**args_by_name.get(cls.__name__, {})))
        except Exception:
            logger.warning("could not instantiate %s; skipped", cls.__name__, exc_info=True)
    return out
