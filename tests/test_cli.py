"""CLI smoke tests — the reference's subprocess --help checks
(scripts/tests/test_sarif_converter.py:443-455 etc.), plus parser wiring."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENV = {**os.environ, "PYTHONPATH": REPO}


@pytest.mark.parametrize(
    "args", [["--help"], ["convert", "--help"], ["ingest", "--help"],
             ["stage", "--help"], ["monitor", "--help"], ["compact", "--help"]]
)
def test_cli_help_exits_zero(args):
    res = subprocess.run(
        [sys.executable, "-m", "boann_ocsf_security_data_platform_spark.cli", *args],
        capture_output=True,
        text=True,
        env=ENV,
        timeout=60,
    )
    assert res.returncode == 0
    assert "usage" in (res.stdout + res.stderr).lower()


def test_cli_missing_subcommand_errors():
    res = subprocess.run(
        [sys.executable, "-m", "boann_ocsf_security_data_platform_spark.cli"],
        capture_output=True,
        text=True,
        env=ENV,
        timeout=60,
    )
    assert res.returncode != 0


def test_parser_wires_all_subcommands():
    from boann_ocsf_security_data_platform_spark.cli import build_parser

    p = build_parser()
    subs = next(
        a for a in p._actions if isinstance(a, type(p._subparsers._group_actions[0]))
    )
    assert set(subs.choices) == {
        "convert", "ingest", "stage", "monitor", "compact", "audit",
        "corpus-clean", "corpus-pack", "corpus-neardup-stream",
        "corpus-decontam-stream", "query",
    }


# ---------------------------------------------------------------------------
# argument-contract validation (runs before any SparkSession is built)
# ---------------------------------------------------------------------------

def _main(argv):
    from boann_ocsf_security_data_platform_spark.cli import main

    return main(argv)


def test_monitor_batch_requires_failed_folder(tmp_path):
    rc = _main(
        ["monitor", "--source-folder", str(tmp_path), "--landing-path",
         str(tmp_path / "l"), "--processed-folder", str(tmp_path / "p"),
         "--batch"]
    )
    assert rc == 2


def test_monitor_streaming_requires_checkpoint(tmp_path):
    rc = _main(
        ["monitor", "--source-folder", str(tmp_path), "--landing-path",
         str(tmp_path / "l"), "--processed-folder", str(tmp_path / "p")]
    )
    assert rc == 2


def test_monitor_validator_requires_schema_file(tmp_path):
    rc = _main(
        ["monitor", "--source-folder", str(tmp_path), "--landing-path",
         str(tmp_path / "l"), "--processed-folder", str(tmp_path / "p"),
         "--failed-folder", str(tmp_path / "f"), "--batch",
         "--validator", "/bin/true"]
    )
    assert rc == 2


def test_convert_requires_exactly_one_output(fixtures_dir, tmp_path):
    sarif = f"{fixtures_dir}/sample.sarif"
    assert _main(["convert", sarif]) == 2  # neither
    assert (
        _main(["convert", sarif, str(tmp_path / "o.json"), "--output-dir",
               str(tmp_path / "d")])
        == 2
    )  # both


# ---------------------------------------------------------------------------
# end-to-end subcommand behavior (in-process; reuses the test SparkSession)
# ---------------------------------------------------------------------------

def test_monitor_batch_validator_cli(spark, tmp_path):
    """--validator CMD --schema-file F drives the reference's external
    validator contract: CMD --schema-file F --data-file FILE, exit != 0
    -> file quarantined in failed/ without ingestion."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    finding = {"finding_info": {"uid": "u1"}}
    (src / "ok.ocsf.json").write_text(_json.dumps([finding]))
    (src / "bad.ocsf.json").write_text(_json.dumps([finding]))
    validator = tmp_path / "validator.py"
    validator.write_text(
        "#!/usr/bin/env python3\n"
        "import sys\n"
        "args = dict(zip(sys.argv[1::2], sys.argv[2::2]))\n"
        "assert args['--schema-file'] == 'schema.json'\n"
        "sys.exit(1 if 'bad' in args['--data-file'] else 0)\n"
    )
    validator.chmod(0o755)
    rc = _main(
        ["monitor", "--source-folder", str(src), "--landing-path",
         str(tmp_path / "landing"), "--processed-folder", str(tmp_path / "proc"),
         "--failed-folder", str(tmp_path / "failed"), "--batch",
         "--validator", str(validator), "--schema-file", "schema.json"]
    )
    assert rc == 1  # failures present -> non-zero, like the reference
    assert sorted(os.listdir(tmp_path / "failed")) == ["bad.ocsf.json"]
    assert sorted(os.listdir(tmp_path / "proc")) == ["ok.ocsf.json"]


def test_convert_output_dir_distributed_sink(spark, fixtures_dir, tmp_path):
    import json as _json

    out_dir = tmp_path / "out_jsonl"
    rc = _main(
        ["convert", f"{fixtures_dir}/sample.sarif", "--output-dir",
         str(out_dir), "--no-uid-generation"]
    )
    assert rc == 0
    docs = [
        _json.loads(line)
        for p in out_dir.iterdir()
        if p.name.startswith("part-")
        for line in p.read_text().splitlines()
    ]
    assert len(docs) >= 1
    assert all(d["class_uid"] == 2007 for d in docs)


def test_ingest_rejects_malformed_and_null_uid(spark, tmp_path):
    import json as _json

    bad = tmp_path / "bad.ocsf.json"
    bad.write_text("{not json")
    rc = _main(["ingest", "--input-file", str(bad), "--landing-path",
                str(tmp_path / "landing")])
    assert rc == 1

    nouid = tmp_path / "nouid.ocsf.json"
    nouid.write_text(_json.dumps([{"finding_info": {"title": "t"}}]))
    rc = _main(["ingest", "--input-file", str(nouid), "--landing-path",
                str(tmp_path / "landing")])
    assert rc == 1
    import os

    assert not os.path.exists(tmp_path / "landing")  # nothing landed

    ok = tmp_path / "ok.ocsf.json"
    ok.write_text(_json.dumps([{"finding_info": {"uid": "u9"}}]))
    rc = _main(["ingest", "--input-file", str(ok), "--landing-path",
                str(tmp_path / "landing")])
    assert rc == 0
    from boann_ocsf_security_data_platform_spark.plans.landing import read_landing

    assert read_landing(spark, str(tmp_path / "landing")).count() == 1

    empty = tmp_path / "empty.ocsf.json"  # zero bytes: no findings, not malformed
    empty.write_text("")
    rc = _main(["ingest", "--input-file", str(empty), "--landing-path",
                str(tmp_path / "landing")])
    assert rc == 0
    assert read_landing(spark, str(tmp_path / "landing")).count() == 1


def test_convert_ingest_stage_pretty_printed(spark, fixtures_dir, tmp_path):
    """The paper's CLI flow on its own output: `convert` writes an
    indent=2 array, and `ingest` must land every finding of it (one
    whole-text row per file, not one row per line) for `stage` to load
    the fixture's 6 findings."""
    sarif = os.path.join(fixtures_dir, "sample.sarif")
    ocsf = str(tmp_path / "sample.ocsf.json")
    landing, staging = str(tmp_path / "landing"), str(tmp_path / "staging")
    assert _main(["convert", sarif, ocsf]) == 0
    assert "\n  " in open(ocsf).read()  # really pretty-printed
    assert _main(["ingest", "--input-file", ocsf, "--landing-path", landing]) == 0
    assert _main(["stage", "--landing-path", landing, "--staging-path", staging]) == 0
    assert spark.read.parquet(staging).count() == 6


def test_audit_verb_end_to_end(spark, tmp_path, capsys):
    """ingest -> stage -> audit green; then land an extra batch WITHOUT
    re-staging and audit must flag the reconciliation gap non-zero."""
    import json as _json

    f = tmp_path / "a.ocsf.json"
    f.write_text(
        _json.dumps(
            [{"finding_info": {"uid": "u1", "title": "t"},
              "severity": "High", "status": "New"}]
        )
    )
    landing, staging = str(tmp_path / "landing"), str(tmp_path / "staging")
    assert _main(["ingest", "--input-file", str(f), "--landing-path", landing]) == 0
    assert _main(["stage", "--landing-path", landing, "--staging-path", staging]) == 0
    rc = _main(["audit", "--staging-path", staging, "--landing-path", landing])
    out = capsys.readouterr().out
    assert rc == 0
    assert '"reconciliation_violations": 0' in out
    assert "profile staging_loaded_at" in out

    # a backfill row lands BELOW the staging high-water mark (written in
    # the table's own (_batch_id, load_date) layout, as a raw backfill job
    # would): incremental stage() will never pick it up, so the audit must
    # flag exactly that gap and exit non-zero
    import datetime

    old = datetime.datetime(2000, 1, 1)
    backfill = spark.createDataFrame(
        [("u0", _json.dumps({"finding_info": {"uid": "u0"}}), old,
          old.date(), -1)],
        "finding_uid string, raw_ocsf_json string, loaded_at timestamp, "
        "load_date date, _batch_id int",
    )
    backfill.write.mode("append").partitionBy("_batch_id", "load_date").parquet(
        landing
    )
    rc = _main(["audit", "--staging-path", staging, "--landing-path", landing])
    out = capsys.readouterr().out
    assert rc == 1
    assert '"reconciliation_violations": 1' in out
    assert "missing from staging: u0" in out


def test_cli_corpus_clean_end_to_end(spark, tmp_path):
    """The corpus-clean verb drives the LLM prep flow: quality gate,
    exact dedup, near-dup clustering, benchmark decontamination — with a
    JSON accounting line of per-stage survivors."""
    import json as _json

    from boann_ocsf_security_data_platform_spark.cli import main

    base = (
        "spark filters joins aggregates windows shuffles partitions "
        "caches broadcasts sorts"
    )
    rows = [
        (1, base + " alpha beta gamma delta epsilon"),
        (2, base + " alpha beta gamma delta epsilon"),          # exact dup of 1
        (3, base + " alpha beta gamma delta epsilon extra"),    # near dup of 1
        (4, "short junk"),                                      # fails gate
        (5, "completely different corpus document with many plain words "
            "that passes every quality check easily today"),
    ]
    bench_rows = [(100, base + " alpha beta gamma delta epsilon")]  # hits 1's grams
    docs = tmp_path / "docs"
    bench = tmp_path / "bench"
    out = tmp_path / "cleaned"
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(str(docs))
    spark.createDataFrame(bench_rows, ["doc_id", "text"]).write.parquet(str(bench))

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([
            "corpus-clean",
            "--input", str(docs),
            "--output", str(out),
            "--near-dup",
            "--jaccard", "0.5",
            "--benchmark", str(bench),
        ])
    assert rc == 0
    stats = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["input"] == 5
    assert stats["after_quality"] == 4          # doc 4 dropped
    assert stats["after_exact_dedup"] == 3      # doc 2 dropped (keep min id 1)
    assert stats["after_near_dup"] == 2         # doc 3 clustered under 1
    assert stats["after_decontaminate"] == 1    # doc 1 contaminated
    survivors = {r.doc_id for r in spark.read.parquet(str(out)).collect()}
    assert survivors == {5}


def test_cli_corpus_pack_webdataset(spark, tmp_path):
    """The corpus-pack verb writes WebDataset tar shards with a manifest
    summary; shards round-trip through stdlib tarfile."""
    import io
    import json as _json
    import tarfile
    from contextlib import redirect_stdout

    from boann_ocsf_security_data_platform_spark.cli import main

    rows = [(i, "src%d" % (i % 2), "document number %d body text" % i) for i in range(10)]
    docs = tmp_path / "docs"
    out = tmp_path / "shards"
    spark.createDataFrame(rows, ["doc_id", "source", "text"]).write.parquet(str(docs))

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([
            "corpus-pack",
            "--input", str(docs),
            "--output", str(out),
            "--shard-bytes", "60",
        ])
    assert rc == 0
    stats = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert stats["members"] == 10
    assert stats["shards"] >= 4  # 2 groups x multiple shards at 60B budget
    seen = {}
    for tar in out.glob("*.tar"):
        with tarfile.open(tar) as tf:
            for m in tf.getmembers():
                seen[m.name] = tf.extractfile(m).read().decode()
    assert len(seen) == 10
    assert seen["000000003.txt"] == "document number 3 body text"


def test_cli_query_verb(spark, sf_smoke, capsys):
    """The query verb exposes the whole analytics registry: --list names
    every entry; running one prints its rows; unknown names suggest."""
    import json as _json

    from boann_ocsf_security_data_platform_spark.cli import main

    rc = main(["query", "--list"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in names and len(names) > 150

    rc = main([
        "query", "agg_welch_ttest", "--sf-dir", sf_smoke, "--json",
    ])
    assert rc == 0
    row = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"n_a", "n_b", "t_stat", "df_welch"} <= set(row)

    rc = main(["query", "agg_welch_ttes"])
    assert rc == 2
    assert "did you mean" in capsys.readouterr().err


@pytest.mark.slow  # ~75 s fresh-JVM stream drain — slow tier, r12 VERDICT #3
def test_cli_corpus_neardup_stream_drain(tmp_path):
    import json as _json
    import subprocess
    import sys

    src = tmp_path / "docs_in"
    src.mkdir()
    text = "one two three four five six seven eight nine ten"
    (src / "a.json").write_text(
        _json.dumps({"doc_id": 1, "text": text})
        + "\n"
        + _json.dumps({"doc_id": 2, "text": text})
    )
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "boann_ocsf_security_data_platform_spark.cli",
            "corpus-neardup-stream",
            "--source", str(src),
            "--store", str(tmp_path / "store"),
            "--pairs", str(tmp_path / "pairs"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--drain",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    rows = duckdb.sql(
        f"SELECT DISTINCT id_a, id_b FROM read_parquet('{tmp_path}/pairs/*/*.parquet')"
    ).fetchall()
    assert rows == [(1, 2)]


@pytest.mark.slow  # ~30 s fresh-JVM stream drain — slow tier, r12 VERDICT #3
def test_cli_corpus_decontam_stream_drain(tmp_path):
    import json as _json
    import subprocess
    import sys

    src = tmp_path / "dc_in"
    src.mkdir()
    (src / "a.json").write_text(
        _json.dumps({"doc_id": 1, "text": "totally clean document words"})
        + "\n"
        + _json.dumps(
            {"doc_id": 2, "text": "contains the capital of france here"}
        )
    )
    bench = tmp_path / "bench.json"
    bench.write_text(
        _json.dumps({"text": "what is the capital of france"})
    )
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "boann_ocsf_security_data_platform_spark.cli",
            "corpus-decontam-stream",
            "--source", str(src),
            "--benchmark", str(bench),
            "--clean", str(tmp_path / "clean"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--drain",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{tmp_path}/clean/*/*.parquet')"
    ).fetchall()
    assert rows == [(1,)]
