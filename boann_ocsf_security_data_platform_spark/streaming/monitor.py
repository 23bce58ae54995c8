"""Continuous OCSF file ingestion — the reference monitor re-conceived.

Reference (scripts/ocsf_monitor.py): a sequential loop — sorted directory
scan → optional external validator → per-file ingest → shutil.move to
processed/ or failed/ — with SIGINT/SIGTERM graceful shutdown and a GCS
twin of every step (list/download/move, :210-342).

Two Spark modes, same at-least-once + disposition contract:

- ``process_directory``: one **batch sweep**. All parseable findings land in
  a single distributed append (vs one INSERT per finding); per-file
  validation/parse failures isolate just that file into failed/. File moves
  go through the Hadoop FileSystem API, so ``file://`` and ``gs://`` URIs
  behave identically (the reference's dual-backend branching collapses into
  the FS abstraction — SURVEY S4/S5).
- ``start_monitor_stream``: **Structured Streaming** file source with
  ``foreachBatch`` landing. Discovery, progress tracking and exactly-once
  batch bookkeeping come from the checkpoint; processed files are archived
  by the source (``cleanSource=archive``), replacing the manual move loop.

Scale: the batch sweep is bounded by listing cost (driver) + one job;
the stream handles unbounded directories with ``maxFilesPerTrigger``
back-pressure. Neither touches per-file Python on the data path.
"""

from __future__ import annotations

import logging
import signal
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.landing import land
from ..session import session_memo
from ..sources.ocsf import (
    explode_findings,
    findings_ok,
    read_ocsf_files,
    split_findings,
)

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Hadoop FS helpers (URI-scheme agnostic: file://, gs://, s3a://, hdfs://)
# ---------------------------------------------------------------------------

def _fs_for(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def list_source_files(
    spark: SparkSession, source_dir: str, suffix: str = ".ocsf.json"
) -> list[str]:
    """Sorted (lexicographic) listing — the reference's deterministic
    processing order (ocsf_monitor.py:153-159, gcs_utils.py:76-87)."""
    fs, hpath, _ = _fs_for(spark, source_dir)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        p = st.getPath().toString()
        if st.isFile() and p.endswith(suffix):
            out.append(p)
    return sorted(out)


def move_file(spark: SparkSession, src: str, dst_dir: str) -> None:
    """Move preserving the file name (reference K3/K4 disposition)."""
    fs, src_path, jvm = _fs_for(spark, src)
    dst_dir_path = jvm.org.apache.hadoop.fs.Path(dst_dir)
    if not fs.exists(dst_dir_path):
        fs.mkdirs(dst_dir_path)
    dst = jvm.org.apache.hadoop.fs.Path(dst_dir, src_path.getName())
    if fs.exists(dst):
        fs.delete(dst, False)
    fs.rename(src_path, dst)


# ---------------------------------------------------------------------------
# Batch sweep
# ---------------------------------------------------------------------------

def process_directory(
    spark: SparkSession,
    source_dir: str,
    landing_path: str,
    processed_dir: str,
    failed_dir: str,
    validator: Callable[[SparkSession, str], bool] | None = None,
) -> dict[str, list[str]]:
    """One monitor sweep: scan → [validate] → land (one batch) → move.

    ``validator`` mirrors the reference's external schema validator hook
    (ocsf_monitor.py:81-117): called per file, False → failed/ without
    ingestion. Files that produce zero parseable findings but are valid
    empty arrays count as processed (reference :166-169); unparseable JSON
    goes to failed/.
    """
    files = list_source_files(spark, source_dir)
    if not files:
        return {"processed": [], "failed": []}

    failed: set[str] = set()
    for f in files:
        if validator is not None:
            try:
                if not validator(spark, f):
                    failed.add(f)
            except Exception:
                logger.exception("validator failed for %s", f)
                failed.add(f)

    candidates = [f for f in files if f not in failed]
    if candidates:
        whole = read_ocsf_files(spark.read, candidates)
        # invariant: a bad file never lands — the landing job drops it by
        # the verdict in its own row; the returned (capped) list only
        # drives disposition, never what lands
        bad_files, overflowed = land_ocsf_files(whole, landing_path)
        failed.update(_norm_matches(bad_files, candidates))
        if overflowed:
            # beyond the cap we cannot tell good files from bad driver-side,
            # so nothing is archived as processed: quarantine the capped bad
            # set, leave the rest in place for the next sweep. Re-swept good
            # files re-land — the documented at-least-once floor of the
            # duplicate-preserving landing table (same as a crash
            # mid-disposition).
            for f in sorted(failed):
                move_file(spark, f, failed_dir)
            return {"processed": [], "failed": sorted(failed)}

    processed = [f for f in files if f not in failed]
    for f in processed:
        move_file(spark, f, processed_dir)
    for f in sorted(failed):
        move_file(spark, f, failed_dir)
    return {"processed": processed, "failed": sorted(failed)}


def make_subprocess_validator(
    validator_cmd: str, schema_file: str
) -> Callable[[SparkSession, str], bool]:
    """External schema-validator hook with the reference's exact contract
    (ocsf_monitor.py:81-117): run ``validator_cmd --schema-file SCHEMA
    --data-file FILE``; exit 0 → valid, non-zero / missing command → invalid
    (file goes to failed/). ``file://`` URIs are mapped to local paths; other
    schemes are passed through for the validator to resolve (the reference
    downloads GCS objects locally before validating)."""
    import subprocess

    def _validate(spark: SparkSession, file_uri: str) -> bool:
        path = file_uri
        if path.startswith("file://"):
            path = path[len("file://"):]
        elif path.startswith("file:"):
            path = path[len("file:"):]
        cmd = [validator_cmd, "--schema-file", schema_file, "--data-file", path]
        try:
            subprocess.run(cmd, check=True, capture_output=True, text=True)
            return True
        except subprocess.CalledProcessError as e:
            logger.error("validation failed for %s: %s", path, e.stderr or e)
            return False
        except FileNotFoundError:
            logger.error("validator command not found: %s", validator_cmd)
            return False

    return _validate


#: disposition safety valve — the per-sweep cap on how many failing files
#: the driver will move (a pathological drop of a million bad files must not
#: turn the sweep into a million sequential renames). Excess bad files stay
#: in the source dir, are NOT landed (the landing job drops them by their own
#: row's verdict), and quarantine on a later sweep — the same at-least-once
#: floor as a crash mid-disposition.
MAX_BAD_FILES_PER_SWEEP = 10_000


def land_ocsf_files(
    files: DataFrame, landing_path: str, batch_id: int | None = None
) -> tuple[set[str], bool]:
    """Land whole-text ``*.ocsf.json`` files — one row per file, columns
    ``value`` (the file text) and ``_source_file`` — in ONE Spark job with
    no cache.

    Each file's verdict (``sources.ocsf.findings_ok``) is computed inside
    the file's own row, and only OK files are exploded into
    ``finding_uid``/``raw_ocsf_json`` rows, so the landing job itself drops
    bad files: no driver-side list decides what lands, and correctness does
    not depend on how many files failed. ``raw_ocsf_json`` is the VERBATIM
    array element (``sources.ocsf.split_findings``) — no schema round-trip,
    so unknown/extra fields survive into landing exactly like the
    reference's raw JSONB insert.

    The bad-file list rides the same job as an observed metric, placed
    before the filter so it sees every file; it is at most as long as the
    file list the caller already holds. Returns ``(bad_files, overflowed)``
    with the list capped at MAX_BAD_FILES_PER_SWEEP.
    """
    findings, ok, bad = session_memo(
        files.sparkSession, "streaming.monitor.land_ocsf_files", _land_columns
    )
    # unnamed: a fresh unique name, so concurrent streams cannot collide
    obs = Observation()
    ok_files = (
        files.select("_source_file", findings)
        .select("*", ok)
        .observe(obs, bad)
        .filter("_ok")
    )
    land(explode_findings(ok_files), landing_path, batch_id=batch_id)
    return _cap_bad_files(obs.get["bad"])


def _land_columns() -> tuple[Column, Column, Column]:
    """(``_findings`` array, ``_ok`` verdict, observed ``bad`` file list):
    fixed for the session, so each micro-batch reuses them (session_memo)."""
    return (
        split_findings(F.col("value")).alias("_findings"),
        findings_ok(F.col("_findings")).alias("_ok"),
        F.collect_list(F.when(~F.col("_ok"), F.col("_source_file"))).alias("bad"),
    )


def _cap_bad_files(bad: list[str]) -> tuple[set[str], bool]:
    """Cap the bad-file list for the disposition move loop at
    MAX_BAD_FILES_PER_SWEEP. Returns ``(bad_files, overflowed)``."""
    overflowed = len(bad) > MAX_BAD_FILES_PER_SWEEP
    if overflowed:
        logger.warning(
            "more than %d failing files in one sweep; quarantine capped — "
            "the remainder stays in the source directory for a later sweep",
            MAX_BAD_FILES_PER_SWEEP,
        )
        bad = sorted(bad)[:MAX_BAD_FILES_PER_SWEEP]
    return set(bad), overflowed


def _norm_matches(uri_set: set[str], candidates: list[str]) -> set[str]:
    """input_file_name() returns fully-qualified URIs; map them back to the
    caller's path strings by suffix match."""
    out = set()
    for c in candidates:
        name = c.rsplit("/", 1)[-1]
        if any(u.endswith("/" + name) or u == c for u in uri_set):
            out.add(c)
    return out


# ---------------------------------------------------------------------------
# Structured Streaming monitor
# ---------------------------------------------------------------------------

def start_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    landing_path: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    failed_dir: str | None = None,
    max_files_per_trigger: int = 100,
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Continuous ingestion: whole-text file stream → foreachBatch landing.

    At-least-once with exactly-once batch bookkeeping via the checkpoint;
    ``archive_dir`` enables the source-side processed-file move
    (``cleanSource=archive`` ≙ the reference's processed/ folder).

    Each file is one stream row (``wholetext``), split into verbatim
    per-finding JSON inside the batch — same fidelity contract as
    ``process_directory`` (no schema round-trip). Files that fail to parse
    or contain a NULL ``finding_info.uid`` contribute NO landed rows; with
    ``failed_dir`` set they are quarantined there inside the batch
    (reference failed/ contract, ocsf_monitor.py:192-207). The source's
    archival then logs a can't-find warning for quarantined files — benign;
    the checkpoint still marks them consumed. Returns the StreamingQuery —
    callers own its lifecycle (``stop_on_signal`` wires SIGTERM like the
    reference's handler).

    ``available_now=True`` drains everything currently in the directory
    (still rate-limited by ``max_files_per_trigger`` per micro-batch, still
    checkpointed) and then stops — the stream-native analog of the
    reference's ``--batch`` sweep, resumable where ``process_directory``
    is not.
    """
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    stream = read_ocsf_files(reader, f"{source_dir}/*.ocsf.json")

    def _land_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id-keyed dynamic overwrite: micro-batch replays after a
        # crash overwrite their own partition instead of duplicating
        bad_files, _ = land_ocsf_files(batch_df, landing_path, batch_id=batch_id)
        if bad_files:
            logger.warning("batch %d: %d file(s) rejected", batch_id, len(bad_files))
            if failed_dir is not None:
                for f in sorted(bad_files):
                    move_file(spark, f, failed_dir)

    writer = stream.writeStream.foreachBatch(_land_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stop_on_signal(query) -> None:
    """SIGINT/SIGTERM → graceful query.stop() (reference
    ocsf_monitor.py:73-78, 521-523)."""

    def _handler(signum, frame):
        logger.info("signal %s received; stopping stream", signum)
        query.stop()

    signal.signal(signal.SIGINT, _handler)
    signal.signal(signal.SIGTERM, _handler)
