"""Command-line surface — parity with the reference's three entry points.

Reference CLIs (scripts/base_cli.py template method + per-tool subclasses):
- ``sarif_to_ocsf.py input.sarif output.ocsf.json [--enrichment-dir D]
  [--enrichment Name:k=v] [--no-uid-generation] [--sdlc-type T]``
- ``ingest_raw_ocsf_findings.py --input-file f.ocsf.json``
- ``ocsf_monitor.py --source-folder S --processed-folder P --failed-folder F
  [--batch | --interval N]``

Usage: ``python -m boann_ocsf_security_data_platform_spark.cli <convert|ingest|monitor|stage> ...``

Each subcommand builds one SparkSession, runs the lazy plan, and exits
non-zero on failure (the reference's fail-fast contract).
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
import time

logger = logging.getLogger(__name__)


def _spark(args):
    from .session import get_spark

    return get_spark(app_name=f"boann-{args.command}", master=args.master)


def _load_enrichments(args):
    from .plans.enrich import (
        FindingUIDGenerator,
        discover_enrichments,
        instantiate_enrichments,
        parse_enrichment_args,
    )

    plugins = []
    if not args.no_uid_generation:
        plugins.append(FindingUIDGenerator(sdlc_type=args.sdlc_type))
    if args.enrichment_dir:
        classes = discover_enrichments(args.enrichment_dir)
        plugins.extend(
            instantiate_enrichments(classes, parse_enrichment_args(args.enrichment))
        )
    return plugins


def cmd_convert(args) -> int:
    from .plans.convert import convert_sarif_to_ocsf, ocsf_to_json
    from .plans.enrich import apply_enrichments
    from .sources.sarif import read_sarif

    if bool(args.output) == bool(args.output_dir):
        print(
            "error: give either OUTPUT (single array file) or --output-dir "
            "(distributed JSON lines)",
            file=sys.stderr,
        )
        return 2
    spark = _spark(args)
    ocsf = apply_enrichments(
        convert_sarif_to_ocsf(read_sarif(spark, args.input)), _load_enrichments(args)
    )
    out_df = ocsf_to_json(ocsf).select("raw_ocsf_json")
    if args.output_dir:
        # distributed sink: one JSON line per finding, written by the
        # executors — no driver collect, scales to arbitrarily large SARIF
        out_df.write.mode("overwrite").text(args.output_dir)
        n = spark.read.text(args.output_dir).count()
        print(f"converted {n} findings -> {args.output_dir}/ (JSON lines)")
        return 0
    # reference parity: one JSON array file (sarif_to_ocsf.py writes a
    # single array) — inherently a driver-side collect; use --output-dir
    # for large inputs
    rows = out_df.collect()
    findings = [json.loads(r[0]) for r in rows]
    with open(args.output, "w", encoding="utf-8") as f:
        json.dump(findings, f, indent=2)
    print(f"converted {len(findings)} findings -> {args.output}")
    return 0


def cmd_ingest(args) -> int:
    from pyspark.sql import functions as F

    from .plans.landing import land
    from .sources.ocsf import (
        explode_findings,
        lacks_uid,
        read_ocsf_files,
        split_findings,
    )

    if not args.input_file.endswith(".ocsf.json"):
        print(f"error: not an .ocsf.json file: {args.input_file}", file=sys.stderr)
        return 1
    spark = _spark(args)
    findings = read_ocsf_files(spark.read, args.input_file).select(
        split_findings(F.col("value")).alias("_findings")
    )
    # one aggregate over the file verdict, then the write: nothing lands
    # unless the whole file is good. A zero-byte file reads as no rows, so
    # every aggregate is NULL: it ingests 0 findings.
    parsed, bad, n = findings.agg(
        F.bool_and(F.col("_findings").isNotNull()),
        F.sum(F.size(F.filter("_findings", lacks_uid))),
        F.sum(F.size(F.filter("_findings", lambda s: s.isNotNull()))),
    ).first()
    if parsed is False:
        print(f"error: malformed JSON array: {args.input_file}", file=sys.stderr)
        return 1
    # stricter than the reference (which inserts NULL finding_uid via
    # .get()): enforce the dbt not_null contract at the door
    if bad:
        print(f"error: {bad} findings without finding_info.uid", file=sys.stderr)
        return 1
    land(explode_findings(findings), args.landing_path)
    print(f"ingested {n or 0} findings -> {args.landing_path}")
    return 0


def cmd_stage(args) -> int:
    from .plans.landing import read_landing
    from .plans.quality import run_quality_checks
    from .plans.staging import high_water_mark, stage, write_staging

    spark = _spark(args)
    hwm = high_water_mark(spark, args.staging_path)
    stg = stage(read_landing(spark, args.landing_path), hwm=hwm)
    write_staging(stg, args.staging_path)
    counts = run_quality_checks(
        spark.read.parquet(args.staging_path), uid_pattern=args.uid_pattern
    )
    failing = {k: v for k, v in counts.items() if v}
    print(f"staged incrementally above hwm={hwm}; quality={counts}")
    return 1 if failing else 0


def cmd_monitor(args) -> int:
    from .streaming.monitor import (
        make_subprocess_validator,
        process_directory,
        start_monitor_stream,
        stop_on_signal,
    )

    # argparse-level contract (mirrors the reference CLI's required args):
    # batch mode needs somewhere to quarantine failures; streaming needs a
    # checkpoint for exactly-once bookkeeping
    if args.batch and not args.failed_folder:
        print("error: --failed-folder is required with --batch", file=sys.stderr)
        return 2
    if not args.batch and not args.checkpoint:
        print("error: --checkpoint is required for streaming mode", file=sys.stderr)
        return 2
    if bool(args.validator) != bool(args.schema_file):
        print(
            "error: --validator and --schema-file must be given together",
            file=sys.stderr,
        )
        return 2

    validator = (
        make_subprocess_validator(args.validator, args.schema_file)
        if args.validator
        else None
    )
    spark = _spark(args)
    if args.batch:
        res = process_directory(
            spark,
            args.source_folder,
            args.landing_path,
            args.processed_folder,
            args.failed_folder,
            validator=validator,
        )
        print(
            f"processed={len(res['processed'])} failed={len(res['failed'])}"
        )
        return 0 if not res["failed"] else 1
    if validator is not None:
        print(
            "warning: --validator applies per file; streaming mode validates "
            "content inline and quarantines to --failed-folder",
            file=sys.stderr,
        )
    q = start_monitor_stream(
        spark,
        args.source_folder,
        args.landing_path,
        args.checkpoint,
        archive_dir=args.processed_folder,
        failed_dir=args.failed_folder,
        trigger_seconds=args.interval,
        available_now=args.drain,
    )
    stop_on_signal(q)
    if args.drain:
        q.awaitTermination()
        print("drained pending files; checkpoint advanced")
        return 0
    print("monitor stream started; Ctrl-C to stop")
    while q.isActive:
        time.sleep(1)
    return 0


def cmd_audit(args) -> int:
    """End-to-end data-quality audit of a landed+staged pipeline: domain /
    not-null contracts, landing↔staging reconciliation (every landing row
    at-or-below the staging high-water mark must be staged), and a one-pass
    column profile of the staging table — the drivable analogue of the
    reference's dbt test run."""
    from pyspark.sql import types as T

    from .operators.relational import profile_columns
    from .plans.landing import read_landing
    from .plans.quality import reconciliation_violations, run_quality_checks

    spark = _spark(args)
    staging = spark.read.parquet(args.staging_path)
    counts = run_quality_checks(staging, uid_pattern=args.uid_pattern)
    failing = {k: v for k, v in counts.items() if v}
    n_viol = 0
    if args.landing_path:
        landing = read_landing(spark, args.landing_path)
        viol = reconciliation_violations(landing, staging)
        sample = viol.limit(args.show_violations + 1).collect()
        n_viol = viol.count() if len(sample) > args.show_violations else len(sample)
        for r in sample[: args.show_violations]:
            print(f"missing from staging: {r.finding_uid} @ {r.loaded_at}")
    prof_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
        T.TimestampType, T.TimestampNTZType, T.DateType,
    )
    prof_cols = [
        f.name for f in staging.schema.fields
        if isinstance(f.dataType, prof_types)
    ]
    if prof_cols:
        for r in profile_columns(staging, prof_cols).collect():
            print(
                f"profile {r.column_name}: rows={r.n_rows} nulls={r.n_nulls} "
                f"distinct={r.n_distinct} min={r.min_val} max={r.max_val}"
            )
    print(
        json.dumps(
            {
                "quality": counts,
                "reconciliation_violations": n_viol,
                "profiled_columns": prof_cols,
            }
        )
    )
    return 1 if failing or n_viol else 0


def cmd_compact(args) -> int:
    from .operators.relational import compact_table

    spark = _spark(args)
    n = compact_table(spark, args.path, target_partition_bytes=args.target_mb * 1024 * 1024)
    print(f"compacted {args.path} -> {n} files")
    return 0


def cmd_corpus_clean(args) -> int:
    """Drivable LLM-corpus cleaning pipeline over a parquet documents
    table: quality gate → exact dedup → (optional) MinHash-LSH near-dup
    removal → decontamination against a benchmark file — the canonical
    pretraining prep flow, end-to-end from one command. Each stage is the
    library operator; the output is the surviving corpus plus a JSON
    accounting line (rows in/out per stage) so a scheduler can alert on
    anomalous shrinkage."""
    from .operators.cache import cache_scope
    from .operators.dedup import (
        cluster_pairs,
        decontaminate,
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from .operators.text import quality_filter

    from pyspark.sql import functions as F

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    stats = {"input": docs.count()}

    kept = quality_filter(
        docs, text_col=args.text_col, min_tokens=args.min_tokens
    ).select(*docs.columns)
    stats["after_quality"] = kept.count()

    survivors = exact_dedup(kept, text_col=args.text_col, id_col=args.id_col)
    kept = kept.join(
        survivors.select(F.col("keep_id").alias(args.id_col)), args.id_col, "left_semi"
    )
    stats["after_exact_dedup"] = kept.count()

    if args.near_dup:
        with cache_scope():
            pairs = minhash_near_dup_pairs(
                kept,
                text_col=args.text_col,
                id_col=args.id_col,
                jaccard_threshold=args.jaccard,
            )
            clusters = cluster_pairs(pairs)
            losers = clusters.filter(
                F.col("node") != F.col("cluster_id")
            ).select(F.col("node").alias(args.id_col))
            kept = kept.join(losers, args.id_col, "left_anti")
            stats["after_near_dup"] = kept.count()

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        kept = decontaminate(
            kept, bench, text_col=args.text_col, id_col=args.id_col
        )
        stats["after_decontaminate"] = kept.count()

    kept.write.mode("overwrite").parquet(args.output)
    stats["output"] = spark.read.parquet(args.output).count()
    print(json.dumps(stats))
    return 0


def cmd_corpus_pack(args) -> int:
    """Pack a parquet documents table into WebDataset-style tar shards:
    deterministic per-group shard layout (prefix-sum of payload sizes ÷
    shard budget), executor-side tar emit, manifest JSON on stdout — the
    interchange step that hands a curated corpus to a training
    dataloader. Payload = UTF-8 text bytes, one `<id>.txt` member per
    document (swap the payload column for real media bytes unchanged)."""
    import os

    from pyspark.sql import functions as F

    from .operators.multimodal import assign_shards, write_tar_shards

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    os.makedirs(args.output, exist_ok=True)
    df = docs.select(
        F.col(args.id_col),
        F.col(args.group_col).alias("source"),
        F.format_string("%09d.txt", F.col(args.id_col)).alias("member_name"),
        F.encode(F.col(args.text_col), "UTF-8").alias("payload"),
    ).withColumn("nbytes", F.length("payload").cast("long"))
    sharded = assign_shards(
        df, "nbytes", group_col="source", id_col=args.id_col,
        shard_bytes=args.shard_bytes,
    )
    manifest = write_tar_shards(sharded, args.output).collect()
    print(
        json.dumps(
            {
                "shards": len(manifest),
                "members": sum(m.n_members for m in manifest),
                "bytes": sum(m.n_bytes for m in manifest),
            }
        )
    )
    return 0


def cmd_corpus_neardup_stream(args) -> int:
    """Continuous near-duplicate detection over a document-stream
    directory: MinHash/LSH band keys per micro-batch (the SAME
    shingle/signature/banding code path as the batch operator), candidate
    pairs against the persisted band-key store + within-batch, appended
    exactly-once under the pairs directory. `--drain` processes whatever
    is in the directory and exits (availableNow), else runs until
    SIGTERM — the streaming face of `corpus-clean --near-dup`."""
    from .streaming import start_near_dup_stream, stop_on_signal

    spark = _spark(args)
    stream = (
        spark.readStream.schema(args.schema)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .json(args.source)
    )
    q = start_near_dup_stream(
        stream,
        store_dir=args.store,
        pairs_dir=args.pairs,
        checkpoint_dir=args.checkpoint,
        text_col=args.text_col,
        id_col=args.id_col,
        available_now=args.drain,
    )
    if args.drain:
        q.awaitTermination()
    else:
        stop_on_signal(q)
        q.awaitTermination()
    return 0


def cmd_corpus_decontam_stream(args) -> int:
    """Continuous benchmark decontamination over a document-stream
    directory: each micro-batch is probed against the static benchmark
    file's word k-grams (the SAME shingling code path as the batch
    `corpus-clean --decontaminate`) and only clean documents land under
    the output directory, batch-id exactly-once. `--drain` processes
    whatever is in the directory and exits (availableNow), else runs
    until SIGTERM — the ingest-side train/test firewall."""
    from .streaming import start_decontamination_stream, stop_on_signal

    spark = _spark(args)
    benchmark = spark.read.json(args.benchmark)
    stream = (
        spark.readStream.schema(args.schema)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .json(args.source)
    )
    q, release = start_decontamination_stream(
        stream,
        benchmark,
        clean_dir=args.clean,
        checkpoint_dir=args.checkpoint,
        text_col=args.text_col,
        id_col=args.id_col,
        available_now=args.drain,
    )
    try:
        if args.drain:
            q.awaitTermination()
        else:
            stop_on_signal(q)
            q.awaitTermination()
    finally:
        release()
    return 0


def cmd_query(args) -> int:
    """Run any registered analytics query from the command line — the
    drivable face of the __spark_entry__ registry: `query --list` prints
    every name, `query <name>` executes it against a testdata directory
    and prints rows (table or JSON lines). The same callables the
    correctness gate verifies, so what you run here is what the DuckDB
    oracle hash-checked."""
    import importlib
    import os
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    entry = importlib.import_module("__spark_entry__")
    qs = entry.queries()
    if args.list:
        for name in qs:
            print(name)
        return 0
    if not args.name:
        print("query: provide a name or --list", file=_sys.stderr)
        return 2
    if args.name not in qs:
        import difflib

        hints = difflib.get_close_matches(args.name, qs.keys(), n=3)
        print(
            f"unknown query {args.name!r}"
            + (f"; did you mean: {', '.join(hints)}?" if hints else ""),
            file=_sys.stderr,
        )
        return 2
    from .operators.cache import cache_scope

    spark = _spark(args)
    with cache_scope():
        df = qs[args.name](spark, args.sf_dir)
        if args.limit:
            df = df.limit(args.limit)
        if args.json:
            for row in df.toJSON().collect():
                print(row)
        else:
            df.show(n=args.limit or 20, truncate=False)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="boann-spark")
    p.add_argument("--master", default=None, help="Spark master (default local[*])")
    sub = p.add_subparsers(dest="command", required=True)

    c = sub.add_parser("convert", help="SARIF -> OCSF json array file")
    c.add_argument("input")
    c.add_argument("output", nargs="?", default=None)
    c.add_argument(
        "--output-dir",
        default=None,
        help="distributed JSON-lines sink (executors write; no driver collect)",
    )
    c.add_argument("--enrichment-dir", action="append", default=[])
    c.add_argument("--enrichment", action="append", default=[])
    c.add_argument("--no-uid-generation", action="store_true")
    c.add_argument("--sdlc-type", default="sast")
    c.set_defaults(fn=cmd_convert)

    i = sub.add_parser("ingest", help="load one .ocsf.json file into landing")
    i.add_argument("--input-file", required=True)
    i.add_argument("--landing-path", required=True)
    i.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("stage", help="incremental landing -> staging transform")
    s.add_argument("--landing-path", required=True)
    s.add_argument("--staging-path", required=True)
    s.add_argument("--uid-pattern", default=None)
    s.set_defaults(fn=cmd_stage)

    m = sub.add_parser("monitor", help="continuous/batch directory ingestion")
    m.add_argument("--source-folder", required=True)
    m.add_argument("--landing-path", required=True)
    m.add_argument("--processed-folder", required=True)
    m.add_argument("--failed-folder", help="required with --batch")
    m.add_argument("--checkpoint", help="required for streaming mode")
    m.add_argument("--batch", action="store_true")
    m.add_argument("--interval", type=int, default=5)
    m.add_argument("--validator", help="external validator command (exit 0 = valid)")
    m.add_argument("--schema-file", help="schema file passed to --validator")
    m.add_argument(
        "--drain",
        action="store_true",
        help="streaming mode: process everything pending, then exit "
        "(availableNow trigger — resumable via the checkpoint)",
    )
    m.set_defaults(fn=cmd_monitor)

    k = sub.add_parser("compact", help="small-file compaction for a table dir")
    k.add_argument("--path", required=True)
    k.add_argument("--target-mb", type=int, default=128)
    k.set_defaults(fn=cmd_compact)

    a = sub.add_parser(
        "audit",
        help="quality contracts + landing/staging reconciliation + column profile",
    )
    a.add_argument("--staging-path", required=True)
    a.add_argument(
        "--landing-path",
        default=None,
        help="enable the landing/staging reconciliation check",
    )
    a.add_argument("--uid-pattern", default=None)
    a.add_argument("--show-violations", type=int, default=10)
    a.set_defaults(fn=cmd_audit)

    cc = sub.add_parser(
        "corpus-clean",
        help="quality gate -> exact dedup -> near-dup -> decontaminate",
    )
    cc.add_argument("--input", required=True, help="documents parquet path")
    cc.add_argument("--output", required=True)
    cc.add_argument("--text-col", default="text")
    cc.add_argument("--id-col", default="doc_id")
    cc.add_argument("--min-tokens", type=int, default=10)
    cc.add_argument("--near-dup", action="store_true")
    cc.add_argument("--jaccard", type=float, default=0.8)
    cc.add_argument(
        "--benchmark", default=None,
        help="parquet of eval/benchmark docs to decontaminate against",
    )
    cc.set_defaults(fn=cmd_corpus_clean)

    cp = sub.add_parser(
        "corpus-pack",
        help="pack a documents table into WebDataset-style tar shards",
    )
    cp.add_argument("--input", required=True, help="parquet documents table")
    cp.add_argument("--output", required=True, help="shard output directory")
    cp.add_argument("--text-col", default="text")
    cp.add_argument("--id-col", default="doc_id")
    cp.add_argument("--group-col", default="source")
    cp.add_argument("--shard-bytes", type=int, default=1 << 20)
    cp.set_defaults(fn=cmd_corpus_pack)

    ns = sub.add_parser(
        "corpus-neardup-stream",
        help="streaming MinHash-LSH near-dup detection over a doc stream",
    )
    ns.add_argument("--source", required=True, help="json docs directory")
    ns.add_argument("--store", required=True, help="band-key store dir")
    ns.add_argument("--pairs", required=True, help="candidate-pair output dir")
    ns.add_argument("--checkpoint", required=True)
    ns.add_argument("--schema", default="doc_id long, text string")
    ns.add_argument("--text-col", default="text")
    ns.add_argument("--id-col", default="doc_id")
    ns.add_argument("--max-files-per-trigger", type=int, default=100)
    ns.add_argument(
        "--drain", action="store_true",
        help="process current contents and exit (availableNow)",
    )
    ns.set_defaults(fn=cmd_corpus_neardup_stream)

    ds = sub.add_parser(
        "corpus-decontam-stream",
        help="streaming benchmark decontamination over a doc stream",
    )
    ds.add_argument("--source", required=True, help="json docs directory")
    ds.add_argument(
        "--benchmark", required=True, help="benchmark json file/dir"
    )
    ds.add_argument("--clean", required=True, help="clean docs output dir")
    ds.add_argument("--checkpoint", required=True)
    ds.add_argument("--schema", default="doc_id long, text string")
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--max-files-per-trigger", type=int, default=100)
    ds.add_argument(
        "--drain", action="store_true",
        help="process current contents and exit (availableNow)",
    )
    ds.set_defaults(fn=cmd_corpus_decontam_stream)

    q = sub.add_parser(
        "query", help="run a registered analytics query by name"
    )
    q.add_argument("name", nargs="?", help="query name (see --list)")
    q.add_argument("--list", action="store_true", help="list query names")
    q.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001",
        help="testdata directory with the parquet tables",
    )
    q.add_argument("--limit", type=int, default=0, help="limit output rows")
    q.add_argument("--json", action="store_true", help="JSON lines output")
    q.set_defaults(fn=cmd_query)
    return p


def main(argv: list[str] | None = None) -> int:
    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(name)s: %(message)s")
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
