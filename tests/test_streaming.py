"""Monitor (batch sweep + Structured Streaming) and streaming operator
coverage: watermarked tumbling windows, session windows, stateful dedup."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from boann_ocsf_security_data_platform_spark.plans.landing import read_landing
from boann_ocsf_security_data_platform_spark.sources.ocsf import read_ocsf_files
from boann_ocsf_security_data_platform_spark.streaming import (
    process_directory,
    start_monitor_stream,
)

FINDING = {
    "class_uid": 2007,
    "severity": "High",
    "status": "New",
    "metadata": {"product": {"name": "T"}, "version": "1.5.0"},
    "finding_info": {"uid": "boann:sast:t:hash:abc", "title": "x", "desc": "d",
                     "created_time": 1710000000000},
}


def _write_ocsf(d, name, findings, indent=None, newline="\n"):
    p = d / name
    p.write_text(json.dumps(findings, indent=indent).replace("\n", newline))
    return str(p)


@pytest.fixture()
def monitor_dirs(tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    return {
        "src": src,
        "landing": str(tmp_path / "landing"),
        "processed": str(tmp_path / "processed"),
        "failed": str(tmp_path / "failed"),
        "checkpoint": str(tmp_path / "ckpt"),
        "archive": str(tmp_path / "archive"),
    }


def test_batch_sweep_disposition(spark, monitor_dirs, tmp_path):
    d = monitor_dirs
    _write_ocsf(d["src"], "a.ocsf.json", [FINDING, FINDING])
    _write_ocsf(d["src"], "b.ocsf.json", [FINDING])
    bad = d["src"] / "c.ocsf.json"
    bad.write_text("{definitely not json")
    (d["src"] / "ignored.txt").write_text("not an ocsf file")
    # pretty-printed files (what `cli convert` writes), LF and CRLF
    _write_ocsf(d["src"], "d.ocsf.json", [FINDING], indent=2)
    _write_ocsf(d["src"], "e.ocsf.json", [FINDING, FINDING], indent=2, newline="\r\n")

    res = process_directory(
        spark, str(d["src"]), d["landing"], d["processed"], d["failed"]
    )
    assert [p.rsplit("/", 1)[-1] for p in res["processed"]] == [
        "a.ocsf.json",
        "b.ocsf.json",
        "d.ocsf.json",
        "e.ocsf.json",
    ]
    assert [p.rsplit("/", 1)[-1] for p in res["failed"]] == ["c.ocsf.json"]

    landed = read_landing(spark, d["landing"])
    assert landed.count() == 6
    assert landed.select("finding_uid").distinct().collect()[0][0] == "boann:sast:t:hash:abc"
    # disposition on disk
    import os

    assert sorted(os.listdir(d["processed"])) == [
        "a.ocsf.json",
        "b.ocsf.json",
        "d.ocsf.json",
        "e.ocsf.json",
    ]
    assert os.listdir(d["failed"]) == ["c.ocsf.json"]
    assert os.listdir(d["src"]) == ["ignored.txt"]  # non-matching left alone


def test_batch_sweep_validator_hook(spark, monitor_dirs):
    d = monitor_dirs
    _write_ocsf(d["src"], "ok.ocsf.json", [FINDING])
    _write_ocsf(d["src"], "rejected.ocsf.json", [FINDING])

    res = process_directory(
        spark,
        str(d["src"]),
        d["landing"],
        d["processed"],
        d["failed"],
        validator=lambda s, f: not f.endswith("rejected.ocsf.json"),
    )
    assert [p.rsplit("/", 1)[-1] for p in res["failed"]] == ["rejected.ocsf.json"]
    assert read_landing(spark, d["landing"]).count() == 1


def test_batch_sweep_empty_dir(spark, monitor_dirs):
    d = monitor_dirs
    res = process_directory(
        spark, str(d["src"]), d["landing"], d["processed"], d["failed"]
    )
    assert res == {"processed": [], "failed": []}


def test_batch_sweep_bad_file_cap(spark, monitor_dirs, monkeypatch):
    """A pathological flood of bad files must not be collected unbounded:
    quarantine is capped per sweep, nothing is mis-filed as processed, good
    rows still land, and the overflow stays in the source dir for a later
    sweep."""
    import os

    from boann_ocsf_security_data_platform_spark.streaming import monitor as mon

    d = monitor_dirs
    _write_ocsf(d["src"], "good.ocsf.json", [FINDING])
    for i in range(4):
        (d["src"] / f"bad{i}.ocsf.json").write_text("{not json")
    monkeypatch.setattr(mon, "MAX_BAD_FILES_PER_SWEEP", 2)

    res = process_directory(
        spark, str(d["src"]), d["landing"], d["processed"], d["failed"]
    )
    # capped quarantine, no processed archival on an overflowing sweep
    assert res["processed"] == []
    assert len(res["failed"]) == 2
    assert read_landing(spark, d["landing"]).count() == 1  # good rows landed
    assert len(os.listdir(d["failed"])) == 2
    assert not os.path.exists(d["processed"]) or os.listdir(d["processed"]) == []
    # remainder still in source → a later sweep finishes the disposition
    leftover = sorted(os.listdir(d["src"]))
    assert "good.ocsf.json" in leftover and len(leftover) == 3
    monkeypatch.setattr(mon, "MAX_BAD_FILES_PER_SWEEP", 10_000)
    res2 = process_directory(
        spark, str(d["src"]), d["landing"], d["processed"], d["failed"]
    )
    assert [p.rsplit("/", 1)[-1] for p in res2["processed"]] == ["good.ocsf.json"]
    assert len(res2["failed"]) == 2
    # at-least-once floor: the re-swept good file re-lands (duplicate-
    # preserving landing table)
    assert read_landing(spark, d["landing"]).count() == 2


def _whole_text(spark, src):
    return read_ocsf_files(spark.read, str(src))


def test_land_ocsf_files_one_job_per_batch(spark, monitor_dirs, spark_jobs):
    """Good, malformed, uid-less, ``[]`` and ``[null, {...}]`` files land in
    exactly ONE Spark job: OK files' non-null findings land, the rest are
    reported bad — a file is bad iff it does not parse as an array or any
    non-null finding lacks finding_info.uid."""
    from boann_ocsf_security_data_platform_spark.streaming.monitor import (
        land_ocsf_files,
    )

    d = monitor_dirs
    second = {**FINDING, "finding_info": {"uid": "u2"}, "zz_extra": [1]}
    no_uid = {**FINDING, "finding_info": {"title": "no uid"}}
    docs = {
        "good.ocsf.json": [FINDING, second],
        "nouid.ocsf.json": [FINDING, no_uid],
        "empty.ocsf.json": [],
        "nullel.ocsf.json": [None, {"finding_info": {"uid": "u3"}}],
    }
    for name, findings in docs.items():
        _write_ocsf(d["src"], name, findings)
    (d["src"] / "broken.ocsf.json").write_text("[{not json")
    files = _whole_text(spark, d["src"])

    for run in range(2):  # the job count repeats exactly; a replay is idempotent
        with spark_jobs(f"land-ocsf-{run}") as jobs:
            bad, overflowed = land_ocsf_files(files, d["landing"], batch_id=0)
            assert len(jobs()) == 1
        assert not overflowed
        assert sorted(b.rsplit("/", 1)[-1] for b in bad) == [
            "broken.ocsf.json",
            "nouid.ocsf.json",
        ]
        landed = read_landing(spark, d["landing"]).collect()
        assert sorted((r["finding_uid"], r["raw_ocsf_json"]) for r in landed) == sorted(
            (f["finding_info"]["uid"], json.dumps(f, separators=(",", ":")))
            for f in [FINDING, second, docs["nullel.ocsf.json"][1]]
        )


def test_land_ocsf_files_all_bad_batch(spark, monitor_dirs):
    """A batch with zero rows to land still returns (the observed bad-file
    list arrives with the landing job) and reports every file."""
    import threading

    from boann_ocsf_security_data_platform_spark.streaming.monitor import (
        land_ocsf_files,
    )

    d = monitor_dirs
    (d["src"] / "broken.ocsf.json").write_text("{not json")
    _write_ocsf(d["src"], "nouid.ocsf.json", [{"finding_info": {}}])
    files = _whole_text(spark, d["src"])
    out = []
    t = threading.Thread(
        target=lambda: out.append(land_ocsf_files(files, d["landing"], batch_id=3)),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "land_ocsf_files hung on an all-bad batch"
    bad, overflowed = out[0]
    assert sorted(b.rsplit("/", 1)[-1] for b in bad) == [
        "broken.ocsf.json",
        "nouid.ocsf.json",
    ]
    assert not overflowed
    landed = [f for _, _, fs in os.walk(d["landing"]) for f in fs if f.endswith(".parquet")]
    assert landed == []


def test_batch_sweep_on_non_file_scheme(spark, tmp_path):
    """S4/S5 evidence beyond file://: the whole sweep — listing, landing
    write, disposition renames — runs against viewfs:// (a second Hadoop
    FileSystem scheme resolving through a mount table), exercising the same
    FS abstraction a gs:///s3a:// connector plugs into."""
    import os

    root = tmp_path / "vfsroot"
    (root / "incoming").mkdir(parents=True)
    _write_ocsf(root / "incoming", "a.ocsf.json", [FINDING])
    (root / "incoming" / "bad.ocsf.json").write_text("{nope")

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.testcluster.link./data", f"file://{root}"
    )
    base = "viewfs://testcluster/data"
    res = process_directory(
        spark,
        f"{base}/incoming",
        f"{base}/landing",
        f"{base}/processed",
        f"{base}/failed",
    )
    assert [p.rsplit("/", 1)[-1] for p in res["processed"]] == ["a.ocsf.json"]
    assert [p.rsplit("/", 1)[-1] for p in res["failed"]] == ["bad.ocsf.json"]
    assert res["processed"][0].startswith("viewfs://testcluster/")
    # disposition really happened on the backing store
    assert sorted(os.listdir(root / "processed")) == ["a.ocsf.json"]
    assert sorted(os.listdir(root / "failed")) == ["bad.ocsf.json"]
    assert os.listdir(root / "incoming") == []
    # and the landing table written through viewfs:// reads back
    assert read_landing(spark, f"{base}/landing").count() == 1


def test_streaming_monitor_ingests(spark, monitor_dirs):
    d = monitor_dirs
    _write_ocsf(d["src"], "s1.ocsf.json", [FINDING])
    _write_ocsf(d["src"], "s2.ocsf.json", [FINDING, FINDING])

    q = start_monitor_stream(
        spark,
        str(d["src"]),
        d["landing"],
        d["checkpoint"],
        trigger_seconds=1,
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            try:
                n = read_landing(spark, d["landing"]).count()
            except Exception:
                n = 0
            if n >= 3:
                break
            time.sleep(1)
        assert n == 3
        # late-arriving file picked up by a later micro-batch
        _write_ocsf(d["src"], "s3.ocsf.json", [FINDING])
        deadline = time.time() + 60
        while time.time() < deadline:
            if read_landing(spark, d["landing"]).count() >= 4:
                break
            time.sleep(1)
        assert read_landing(spark, d["landing"]).count() == 4
    finally:
        q.stop()


def _stream_events(spark, tmp_path, rows):
    src = tmp_path / "events_in"
    src.mkdir()
    (src / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return spark.readStream.schema("user_id long, ts timestamp, value double").json(
        str(src)
    )


def _run_to_memory(stream_df, name, mode="append"):
    q = stream_df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return q


def test_streaming_tumbling_window_with_watermark(spark, tmp_path):
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:01:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:02:00", "value": 2.0},
        {"user_id": 2, "ts": "2024-01-01T00:07:00", "value": 3.0},
    ]
    agg = (
        _stream_events(spark, tmp_path, rows)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.sum("value").alias("total"))
    )
    _run_to_memory(agg, "tumbling", mode="complete")
    got = {
        (r["window"]["start"].minute, r["total"])
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    assert got == {(0, 3.0), (5, 3.0)}


def test_streaming_session_window(spark, tmp_path):
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:03:00", "value": 1.0},  # same session
        {"user_id": 1, "ts": "2024-01-01T01:00:00", "value": 1.0},  # new session
    ]
    agg = (
        _stream_events(spark, tmp_path, rows)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_to_memory(agg, "sessions", mode="complete")
    ns = sorted(r.n for r in spark.sql("SELECT * FROM sessions").collect())
    assert ns == [1, 2]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:00:30", "value": 1.0},  # dup user
        {"user_id": 2, "ts": "2024-01-01T00:01:00", "value": 2.0},
    ]
    dedup = (
        _stream_events(spark, tmp_path, rows)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    _run_to_memory(dedup, "dedup_stream")
    assert spark.sql("SELECT count(*) FROM dedup_stream").collect()[0][0] == 2


def test_stream_static_join(spark, tmp_path, sf_smoke):
    """Streaming events enriched with a static dimension (stream-static
    join — no watermark needed on the static side)."""
    from boann_ocsf_security_data_platform_spark.sources import load_table

    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"user_id": 2, "ts": "2024-01-01T00:01:00", "value": 2.0},
        {"user_id": 999999, "ts": "2024-01-01T00:02:00", "value": 3.0},  # no dim row
    ]
    stream = _stream_events(spark, tmp_path, rows)
    dim = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.join(dim, "user_id", "left")
    _run_to_memory(joined, "stream_static")
    got = {
        r.user_id: r.c_mktsegment
        for r in spark.sql("SELECT * FROM stream_static").collect()
    }
    assert len(got) == 3
    assert got[1] is not None and got[2] is not None  # enriched
    assert got[999999] is None  # left join keeps unmatched stream rows


def test_streaming_monitor_quarantines_bad_files(spark, monitor_dirs):
    """Streaming failed-path disposition (reference ocsf_monitor.py:192-207):
    unparseable / null-uid files land nothing and move to failed/."""
    d = monitor_dirs
    _write_ocsf(d["src"], "good.ocsf.json", [FINDING])
    (d["src"] / "broken.ocsf.json").write_text("{not json at all")
    no_uid = {**FINDING, "finding_info": {"title": "no uid here"}}
    _write_ocsf(d["src"], "nouid.ocsf.json", [no_uid])

    q = start_monitor_stream(
        spark,
        str(d["src"]),
        d["landing"],
        d["checkpoint"],
        failed_dir=d["failed"],
        trigger_seconds=1,
    )
    try:
        import os

        deadline = time.time() + 60
        while time.time() < deadline:
            if os.path.isdir(d["failed"]) and len(os.listdir(d["failed"])) >= 2:
                break
            time.sleep(1)
        assert sorted(os.listdir(d["failed"])) == [
            "broken.ocsf.json",
            "nouid.ocsf.json",
        ]
        landed = read_landing(spark, d["landing"])
        assert landed.count() == 1
        assert landed.collect()[0]["finding_uid"] == FINDING["finding_info"]["uid"]
    finally:
        q.stop()


def test_landing_preserves_unknown_fields_verbatim(spark, monitor_dirs):
    """Fidelity contract: fields OUTSIDE the fixed OCSF schema survive into
    raw_ocsf_json (reference stores the original event as JSONB verbatim —
    ingest_raw_ocsf_findings.py raw_ocsf_json=event)."""
    d = monitor_dirs
    extra = {
        **FINDING,
        "zz_custom_payload": {"nested": [1, 2, {"deep": True}]},
        "unmapped_attr": "kept",
    }
    _write_ocsf(d["src"], "x.ocsf.json", [extra])
    process_directory(
        spark, str(d["src"]), d["landing"], d["processed"], d["failed"]
    )
    raw = read_landing(spark, d["landing"]).collect()[0]["raw_ocsf_json"]
    assert '"zz_custom_payload":{"nested":[1,2,{"deep":true}]}' in raw
    assert '"unmapped_attr":"kept"' in raw
    # round-trips to the exact original document (whitespace-normalized)
    assert json.loads(raw) == extra
    # field order preserved (not alphabetized by a schema round-trip)
    assert raw.index('"class_uid"') < raw.index('"zz_custom_payload"')


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream inner join with an event-time interval
    bound — Spark buffers both sides in state and evicts by watermark."""
    left_rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"user_id": 2, "ts": "2024-01-01T01:00:00", "value": 2.0},
    ]
    right_rows = [
        {"user_id": 1, "ts": "2024-01-01T00:03:00", "score": 10.0},  # +3m: joins
        {"user_id": 1, "ts": "2024-01-01T00:30:00", "score": 20.0},  # +30m: out of bound
        {"user_id": 2, "ts": "2024-01-01T01:01:00", "score": 30.0},  # +1m: joins
    ]
    ldir = tmp_path / "ss_left"
    rdir = tmp_path / "ss_right"
    ldir.mkdir(), rdir.mkdir()
    (ldir / "l.json").write_text("\n".join(json.dumps(r) for r in left_rows))
    (rdir / "r.json").write_text("\n".join(json.dumps(r) for r in right_rows))
    left = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .json(str(ldir))
        .withWatermark("ts", "2 hours")
    )
    right = (
        spark.readStream.schema("user_id long, ts timestamp, score double")
        .json(str(rdir))
        .withColumnRenamed("ts", "r_ts")
        .withWatermark("r_ts", "2 hours")
    )
    joined = left.join(
        right,
        (left.user_id == right.user_id)
        & (F.col("r_ts") >= F.col("ts"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 5 minutes")),
    ).select(left.user_id, "value", "score")
    _run_to_memory(joined, "ss_join")
    got = {(r.user_id, r.score) for r in spark.sql("SELECT * FROM ss_join").collect()}
    assert got == {(1, 10.0), (2, 30.0)}


def test_land_batch_id_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id) overwrites its own partition
    instead of appending duplicates; new batch_ids still append."""
    from boann_ocsf_security_data_platform_spark.plans.landing import land

    path = str(tmp_path / "landing")
    df = spark.createDataFrame(
        [("u1", "{}"), ("u2", "{}")], "finding_uid string, raw_ocsf_json string"
    )
    land(df, path, batch_id=0)
    land(df, path, batch_id=0)  # replay
    assert read_landing(spark, path).count() == 2
    land(df, path, batch_id=1)
    assert read_landing(spark, path).count() == 4


@pytest.mark.parametrize("session_mode", [None, "static"])
def test_land_batch_id_leaves_session_overwrite_mode(spark, tmp_path, session_mode):
    """``land(..., batch_id=...)`` overwrites dynamically through a writer
    option: the session's ``partitionOverwriteMode`` is left as it was
    (unset, or ``static``), and a replay still replaces only its batch."""
    from boann_ocsf_security_data_platform_spark.plans.landing import land

    key = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "landing")
    df = spark.createDataFrame(
        [("u1", "{}"), ("u2", "{}")], "finding_uid string, raw_ocsf_json string"
    )
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    if session_mode is not None:
        spark.conf.set(key, session_mode)
    try:
        land(df, path, batch_id=0)
        land(df, path, batch_id=1)
        land(df, path, batch_id=0)  # replay
        assert spark.conf.get(key, None) == session_mode
    finally:
        spark.conf.unset(key)
        if before is not None:
            spark.conf.set(key, before)
    assert read_landing(spark, path).count() == 4


def test_land_mixed_batch_and_stream_layouts_coexist(spark, tmp_path):
    """Batch appends (sentinel _batch_id=-1) and streaming micro-batches
    (real batch ids) share one partition layout: after BOTH have written,
    the table stays readable and stageable (regression: two layouts under
    one root → CONFLICTING_PARTITION_COLUMN_NAMES)."""
    from boann_ocsf_security_data_platform_spark.plans.landing import land
    from boann_ocsf_security_data_platform_spark.plans.staging import stage

    path = str(tmp_path / "landing_mixed")
    df = spark.createDataFrame(
        [("u1", '{"severity": "Low"}'), ("u2", '{"severity": "High"}')],
        "finding_uid string, raw_ocsf_json string",
    )
    land(df, path)  # batch append — sentinel partition
    land(df, path, batch_id=3)  # streaming micro-batch
    landed = read_landing(spark, path)
    assert landed.count() == 4
    assert set(r["_batch_id"] for r in landed.select("_batch_id").collect()) == {-1, 3}
    # streaming replay stays idempotent, batch rows untouched
    land(df, path, batch_id=3)
    assert read_landing(spark, path).count() == 4
    # a second batch append appends (sentinel partition is append-only)
    land(df, path)
    assert read_landing(spark, path).count() == 6
    # and the staging model consumes the mixed table end-to-end
    assert stage(read_landing(spark, path)).count() == 6


def test_sql_over_registered_views(spark, sf_smoke):
    """register_views exposes the catalog to raw spark.sql — the SQL text
    must agree with the DataFrame-API q1."""
    from boann_ocsf_security_data_platform_spark.sources.catalog import register_views
    import __spark_entry__ as em

    register_views(spark, sf_smoke)
    sql_rows = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    ).collect()
    api = {
        (r.l_returnflag, r.l_linestatus): r.sum_qty
        for r in em.queries()["q1_pricing_summary"](spark, sf_smoke).collect()
    }
    got = {(r.l_returnflag, r.l_linestatus): r.sum_qty for r in sql_rows}
    assert got == api


def test_stream_to_staging_incremental_e2e(spark, monitor_dirs, tmp_path):
    """Full pipeline atop the stream: files → monitor stream → landing →
    incremental staging. A second staging run after more files arrive
    picks up ONLY the new rows (high-water mark over streamed batches)."""
    from boann_ocsf_security_data_platform_spark.plans.staging import (
        high_water_mark,
        stage,
        write_staging,
    )

    d = monitor_dirs
    staging = str(tmp_path / "staging")
    q = start_monitor_stream(
        spark, str(d["src"]), d["landing"], d["checkpoint"], trigger_seconds=1
    )
    try:
        _write_ocsf(d["src"], "w1.ocsf.json", [FINDING, FINDING])
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if read_landing(spark, d["landing"]).count() >= 2:
                    break
            except Exception:
                pass
            time.sleep(1)
        write_staging(
            stage(read_landing(spark, d["landing"]),
                  hwm=high_water_mark(spark, staging)),
            staging,
        )
        assert spark.read.parquet(staging).count() == 2

        _write_ocsf(d["src"], "w2.ocsf.json", [FINDING])
        deadline = time.time() + 60
        while time.time() < deadline:
            if read_landing(spark, d["landing"]).count() >= 3:
                break
            time.sleep(1)
        incr = stage(
            read_landing(spark, d["landing"]), hwm=high_water_mark(spark, staging)
        )
        n_new = incr.count()
        assert n_new == 1  # only the late file's finding is above the HWM
        write_staging(incr, staging)
        assert spark.read.parquet(staging).count() == 3
    finally:
        q.stop()


def test_streaming_drain_available_now(spark, monitor_dirs):
    """availableNow trigger: drain pending files, stop, and stay resumable —
    a re-drain after new files processes ONLY the new ones (checkpoint)."""
    d = monitor_dirs
    _write_ocsf(d["src"], "d1.ocsf.json", [FINDING])
    _write_ocsf(d["src"], "d2.ocsf.json", [FINDING, FINDING])
    # pretty-printed files (what `cli convert` writes), LF and CRLF
    _write_ocsf(d["src"], "d4.ocsf.json", [FINDING], indent=2)
    _write_ocsf(d["src"], "d5.ocsf.json", [FINDING, FINDING], indent=2, newline="\r\n")
    q = start_monitor_stream(
        spark, str(d["src"]), d["landing"], d["checkpoint"], available_now=True
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert read_landing(spark, d["landing"]).count() == 6

    _write_ocsf(d["src"], "d3.ocsf.json", [FINDING])
    q2 = start_monitor_stream(
        spark, str(d["src"]), d["landing"], d["checkpoint"], available_now=True
    )
    q2.awaitTermination(120)
    assert read_landing(spark, d["landing"]).count() == 7


def test_streaming_corpus_quality_dedup_pipeline(spark, tmp_path):
    """The LLM-corpus operators compose with Structured Streaming: a
    document stream is quality-scored, fingerprinted, and deduped with
    bounded state (dropDuplicatesWithinWatermark on the content
    fingerprint) — the streaming ingestion front of a training-data
    pipeline. Near-dup detection stays a periodic batch job by design
    (LSH banding needs corpus-global aggregates); this covers the
    exact-dedup + filter gate that CAN run incrementally."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        doc_fingerprint,
        text_quality,
    )

    good = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00", "text": good},
        # exact dup after whitespace normalization -> dropped by fingerprint
        {"doc_id": 2, "ts": "2024-01-01T00:00:10", "text": "  " + good.replace(" ", "  ")},
        # degenerate short doc -> dropped by the quality gate
        {"doc_id": 3, "ts": "2024-01-01T00:00:20", "text": "x"},
        {"doc_id": 4, "ts": "2024-01-01T00:00:30", "text": good + " again tonight"},
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").json(
        str(src)
    )
    cleaned = (
        doc_fingerprint(text_quality(stream))
        .filter(F.col("n_tokens") >= 10)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    _run_to_memory(cleaned, "corpus_stream")
    kept = {r.doc_id for r in spark.sql("SELECT doc_id FROM corpus_stream").collect()}
    assert kept == {1, 4}


def test_streaming_ohlc_bars_match_batch(spark, tmp_path):
    """The OHLC downsampling rollup runs UNCHANGED as a streaming windowed
    aggregate: struct-min/max open/close compose with watermark + window
    like any other aggregate, so the batch operator IS the streaming
    operator (same column expressions, same determinism under equal
    timestamps)."""
    rows = [
        {"user_id": 1, "ts": "2024-01-01T10:05:00", "value": 10.0},
        {"user_id": 1, "ts": "2024-01-01T10:20:00", "value": 40.0},
        {"user_id": 1, "ts": "2024-01-01T10:50:00", "value": 20.0},
        {"user_id": 1, "ts": "2024-01-01T11:10:00", "value": 5.0},
    ]
    s = F.struct(F.col("ts"), F.col("user_id"), F.col("value").alias("v"))
    agg = (
        _stream_events(spark, tmp_path, rows)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.min(s)["v"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(s)["v"].alias("close"),
            F.sum("value").alias("volume"),
        )
    )
    _run_to_memory(agg, "ohlc_stream", mode="complete")
    got = {
        r["window"]["start"].hour: (r.open, r.high, r.low, r.close, r.volume)
        for r in spark.sql("SELECT * FROM ohlc_stream").collect()
    }
    assert got[10] == (10.0, 40.0, 10.0, 20.0, 70.0)
    assert got[11] == (5.0, 5.0, 5.0, 5.0, 5.0)


def test_observe_metrics_on_pipeline(spark):
    """df.observe() attaches accumulator-style metrics to a plan — the
    zero-extra-pass operational counters (row counts, null rates) a
    production pipeline exports alongside its writes."""
    from pyspark.sql import Observation

    obs = Observation("landing_metrics")
    df = spark.range(100).withColumn(
        "v", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
    )
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("int")).alias("n_null_v"),
    )
    assert out.count() == 100
    assert obs.get == {"n_rows": 100, "n_null_v": 10}


def test_streaming_near_dup_matches_batch(spark, tmp_path):
    """Stream/batch parity for MinHash-LSH near-dup: documents arrive
    across THREE micro-batches (duplicates split across batches so pairs
    must come from the persisted band-key store, not just within-batch
    self-joins); the union of streamed candidate pairs equals the batch
    operator's pairs over the same corpus — one shared banding code path
    (operators/dedup.py:lsh_band_keys)."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_near_dup_pairs,
        start_near_dup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the quiet town and children watch from windows"
    )
    alt = (
        "completely different content about distributed query engines "
        "aggregating petabytes of telemetry with vectorized execution"
    )
    docs = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": alt},
        # near-dup of 1, lands in a LATER batch -> store join must find it
        {"doc_id": 3, "text": base.replace("rain", "snow")},
        {"doc_id": 4, "text": "tiny"},
        # near-dup of 2 in the SAME batch as 6 and near-dup again later
        {"doc_id": 5, "text": alt.replace("petabytes", "exabytes")},
        {"doc_id": 6, "text": alt.replace("telemetry", "findings")},
        # exact duplicate of 1 in the last batch
        {"doc_id": 7, "text": base},
    ]
    batches = [docs[0:2], docs[2:5], docs[5:7]]
    src = tmp_path / "nd_in"
    src.mkdir()
    dirs = {
        "store": str(tmp_path / "nd_store"),
        "pairs": str(tmp_path / "nd_pairs"),
        "ckpt": str(tmp_path / "nd_ckpt"),
    }
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    for i, chunk in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(d) for d in chunk)
        )
    q = start_near_dup_stream(
        stream, dirs["store"], dirs["pairs"], dirs["ckpt"], available_now=True
    )
    q.awaitTermination(120)
    streamed = {
        (r.id_a, r.id_b)
        for r in read_near_dup_pairs(spark, dirs["pairs"]).collect()
    }
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    with cache_scope():
        expected_df = minhash_near_dup_pairs(batch_df)
        expected = {(r.id_a, r.id_b) for r in expected_df.collect()}
    assert (1, 3) in expected and (1, 7) in expected  # cross-batch dups real
    assert streamed == expected


def test_streaming_near_dup_replay_and_prune(spark, tmp_path):
    """Batch-id-keyed dynamic overwrite makes pair emission idempotent
    (restarting the stream over the same files duplicates nothing) and
    prune_band_store retires old partitions without touching new ones."""
    import os

    from boann_ocsf_security_data_platform_spark.streaming import (
        prune_band_store,
        read_near_dup_pairs,
        start_near_dup_stream,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = tmp_path / "rp_in"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps({"doc_id": 1, "text": text})
        + "\n"
        + json.dumps({"doc_id": 2, "text": text})
    )
    dirs = dict(
        store=str(tmp_path / "rp_store"),
        pairs=str(tmp_path / "rp_pairs"),
        ckpt=str(tmp_path / "rp_ckpt"),
    )

    def run():
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        q = start_near_dup_stream(
            stream, dirs["store"], dirs["pairs"], dirs["ckpt"],
            available_now=True,
        )
        q.awaitTermination(120)

    run()
    first = read_near_dup_pairs(spark, dirs["pairs"]).collect()
    assert {(r.id_a, r.id_b) for r in first} == {(1, 2)}
    run()  # restart over same source+checkpoint: nothing new, nothing duped
    again = read_near_dup_pairs(spark, dirs["pairs"]).collect()
    assert {(r.id_a, r.id_b) for r in again} == {(1, 2)}
    parts = [p for p in os.listdir(dirs["store"]) if p.startswith("_batch_id=")]
    assert parts
    prune_band_store(spark, dirs["store"], keep_from_batch_id=10**9)
    left = [p for p in os.listdir(dirs["store"]) if p.startswith("_batch_id=")]
    assert left == []


def test_streaming_zscore_alerts_matches_replay(spark, tmp_path):
    """Welford score-then-update alerting across TWO micro-batches must
    equal a single-key Python replay over the same row order — running
    stats survive the batch boundary, outliers don't mask themselves,
    and quiet values never alert."""
    import math

    from boann_ocsf_security_data_platform_spark.streaming.stateful import (
        streaming_zscore_alerts,
    )

    base = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3, 9.7, 10.0]
    batch1 = base + [10.4]           # 11 quiet values
    batch2 = [50.0, 10.2, 60.0]      # two screaming outliers
    rows1 = [
        {"user_id": 1, "event_id": i, "ts": f"2024-01-01T00:00:{i:02d}", "value": v}
        for i, v in enumerate(batch1)
    ]
    rows2 = [
        {"user_id": 1, "event_id": 20 + i, "ts": f"2024-01-01T00:01:{i:02d}", "value": v}
        for i, v in enumerate(batch2)
    ]
    src = tmp_path / "alerts_in"
    src.mkdir()
    ckpt = str(tmp_path / "alerts_ckpt")
    stream = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, value double"
    ).json(str(src))
    q = (
        streaming_zscore_alerts(stream, threshold=3.0, min_obs=10)
        .writeStream.format("memory")
        .queryName("z_alerts")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
        q.processAllAvailable()
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
        q.processAllAvailable()
        got = {
            r.event_id: r.zscore
            for r in spark.sql("SELECT * FROM z_alerts").collect()
        }
    finally:
        q.stop()
    # python replay: score before update
    n, mean, m2 = 0, 0.0, 0.0
    want = {}
    for i, v in enumerate(batch1 + batch2):
        eid = i if i < len(batch1) else 20 + (i - len(batch1))
        if n >= 10:
            var = m2 / (n - 1)
            if var > 0:
                z = (v - mean) / math.sqrt(var)
                if abs(z) > 3.0:
                    want[eid] = round(z, 4)
        n += 1
        d = v - mean
        mean += d / n
        m2 += d * (v - mean)
    assert got == want
    assert 20 in want and 22 in want  # both outliers alerted
    assert 21 not in want             # quiet value between them did not


def test_streaming_near_dup_custom_id_col(spark, tmp_path):
    """A non-default id column must work end-to-end (the band-key store
    schema follows id_col — regression for the hardcoded-doc_id bug that
    crashed every --id-col stream on its first store read)."""
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_near_dup_pairs,
        start_near_dup_stream,
    )

    text = "red orange yellow green blue indigo violet ultraviolet infrared"
    src = tmp_path / "cid_in"
    src.mkdir()
    (src / "b0.json").write_text(json.dumps({"my_id": 7, "text": text}))
    dirs = dict(
        store=str(tmp_path / "cid_store"),
        pairs=str(tmp_path / "cid_pairs"),
    )

    def run(ck):
        stream = spark.readStream.schema("my_id long, text string").json(
            str(src)
        )
        q = start_near_dup_stream(
            stream, dirs["store"], dirs["pairs"], str(tmp_path / ck),
            id_col="my_id", available_now=True,
        )
        q.awaitTermination(120)

    run("ck1")
    # second batch AFTER a store exists: the store read must resolve my_id
    (src / "b1.json").write_text(json.dumps({"my_id": 9, "text": text}))
    run("ck1")
    got = {(r.id_a, r.id_b) for r in read_near_dup_pairs(spark, dirs["pairs"]).collect()}
    assert got == {(7, 9)}


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """Stream/batch parity for benchmark decontamination: documents arrive
    across THREE micro-batches; the union of streamed clean documents
    equals the batch decontaminate() over the same corpus — one shared
    shingling code path (operators/dedup.py:with_hashed_shingles) and the
    same broadcast semi-join probe."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        decontaminate,
    )
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_clean_docs,
        start_decontamination_stream,
    )

    bench_q = (
        "what is the capital of france and when was the eiffel tower built"
    )
    docs = [
        {"doc_id": 1, "text": "a clean document about distributed engines"},
        # contains a benchmark 3-gram -> contaminated
        {"doc_id": 2, "text": "trivia: the capital of france is paris"},
        {"doc_id": 3, "text": "another clean one on columnar storage"},
        {"doc_id": 4, "text": "quiz answers: when was the eiffel tower built"},
        {"doc_id": 5, "text": "tiny"},
    ]
    batches = [docs[0:2], docs[2:4], docs[4:5]]
    src = tmp_path / "dc_in"
    src.mkdir()
    for i, chunk in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(d) for d in chunk)
        )
    benchmark = spark.createDataFrame([(bench_q,)], "text string")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q, release = start_decontamination_stream(
        stream,
        benchmark,
        str(tmp_path / "dc_clean"),
        str(tmp_path / "dc_ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    release()
    streamed = {
        r.doc_id
        for r in read_clean_docs(spark, str(tmp_path / "dc_clean")).collect()
    }
    corpus = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    expected = {
        r.doc_id for r in decontaminate(corpus, benchmark).collect()
    }
    assert expected == {1, 3, 5}  # 2 and 4 really are contaminated
    assert streamed == expected


def test_streaming_decontamination_replay_idempotent(spark, tmp_path):
    """Restarting the stream over the same source + checkpoint duplicates
    nothing: the clean sink is batch-id-keyed dynamic overwrite."""
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_clean_docs,
        start_decontamination_stream,
    )

    src = tmp_path / "dcr_in"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps({"doc_id": 1, "text": "alpha beta gamma delta"})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "unrelated words entirely here"})
    )
    benchmark = spark.createDataFrame(
        [("alpha beta gamma epsilon",)], "text string"
    )

    def run():
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        q, release = start_decontamination_stream(
            stream,
            benchmark,
            str(tmp_path / "dcr_clean"),
            str(tmp_path / "dcr_ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        release()

    run()
    first = {
        r.doc_id
        for r in read_clean_docs(spark, str(tmp_path / "dcr_clean")).collect()
    }
    assert first == {2}  # doc 1 shares the 'alpha beta gamma' 3-gram
    run()
    rows = read_clean_docs(spark, str(tmp_path / "dcr_clean")).collect()
    assert [r.doc_id for r in rows] == [2]  # no duplication on replay


def test_streaming_heavy_hitters_error_bound(spark, tmp_path):
    """The cross-batch Misra-Gries sketch must satisfy the MG guarantees
    against exact counts over the whole stream: every item with true
    frequency > n/(k+1) is present, and every estimate lies in
    [true − n/(k+1), true]."""
    from collections import Counter

    from boann_ocsf_security_data_platform_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    k = 4
    # skewed stream: user 1 dominates, user 2 second, rest is noise
    items = ([1] * 30 + [2] * 15 + [3, 4, 5, 6, 7, 8, 9] * 3)
    batches = [items[0:24], items[24:48], items[48:]]
    src = tmp_path / "hh_in"
    src.mkdir()
    import json as _json

    eid = 0
    for i, chunk in enumerate(batches):
        lines = []
        for u in chunk:
            lines.append(
                _json.dumps(
                    {"event_id": eid, "event_type": "click", "user_id": u}
                )
            )
            eid += 1
        (src / f"b{i}.json").write_text("\n".join(lines))
    stream = spark.readStream.schema(
        "event_id long, event_type string, user_id long"
    ).option("maxFilesPerTrigger", 1).json(str(src))
    out_dir = tmp_path / "hh_out"

    def sink(batch_df, batch_id):
        batch_df.withColumn("_b", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(str(out_dir))

    q = (
        streaming_heavy_hitters(stream, k=k)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out_dir)).collect()
    last_b = max(r["_b"] for r in rows)
    final = {r.item: r.est_count for r in rows if r["_b"] == last_b}
    n = len(items)
    true = Counter(items)
    bound = n / (k + 1)
    for item, c in true.items():
        if c > bound:
            assert item in final, f"true heavy hitter {item} missing"
    for item, est in final.items():
        assert true[item] - bound <= est <= true[item]


def test_streaming_bottom_k_equals_batch(spark, tmp_path):
    """Bottom-k is order-independent: the streamed sample over any batch
    split must EXACTLY equal the batch computation (k smallest hashes of
    the distinct items) — no error bound, bit equality."""
    import hashlib
    import json as _json

    from boann_ocsf_security_data_platform_spark.streaming.stateful import (
        streaming_bottom_k_sample,
    )

    k = 5
    items = [7, 3, 9, 3, 12, 45, 7, 88, 2, 15, 23, 9, 51, 60, 2, 71]
    batches = [items[0:6], items[6:11], items[11:]]
    src = tmp_path / "bk_in"
    src.mkdir()
    eid = 0
    for i, chunk in enumerate(batches):
        lines = []
        for u in chunk:
            lines.append(
                _json.dumps(
                    {"event_id": eid, "event_type": "click", "user_id": u}
                )
            )
            eid += 1
        (src / f"b{i}.json").write_text("\n".join(lines))
    stream = spark.readStream.schema(
        "event_id long, event_type string, user_id long"
    ).option("maxFilesPerTrigger", 1).json(str(src))
    out_dir = tmp_path / "bk_out"

    def sink(batch_df, batch_id):
        batch_df.withColumn("_b", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(str(out_dir))

    q = (
        streaming_bottom_k_sample(stream, k=k)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "bk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out_dir)).collect()
    last_b = max(r["_b"] for r in rows)
    streamed = sorted(
        (r.item, r.h) for r in rows if r["_b"] == last_b
    )

    def h64(item):
        return int(hashlib.md5(f"bk:{item}".encode()).hexdigest()[:15], 16)

    expected = sorted(
        sorted(((i, h64(i)) for i in set(items)), key=lambda t: t[1])[:k]
    )
    assert streamed == expected
    assert all(r.n_seen == len(items) for r in rows if r["_b"] == last_b)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Stream/batch parity for stateful sessionization: events arrive
    across THREE micro-batches (one session EXTENDS across a batch
    boundary, one 45-min gap closes mid-stream, one exactly-30-min gap
    must stay inside the session — the inclusive bound the batch oracle
    pins); per-user far-future sentinel events close every real session
    via the gap path, and the closed-session rows equal the batch
    events_sessionize islands over the same real events."""
    import datetime

    import __spark_entry__ as entrymod
    from boann_ocsf_security_data_platform_spark.streaming import sessionize_stream

    t0 = datetime.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    sentinel = datetime.datetime(2024, 6, 1)
    real = [
        # user 1: one session crossing the b1/b2 boundary, then a second
        (1, ts(0), 1), (1, ts(10), 2), (1, ts(20), 3),
        (1, ts(90), 4), (1, ts(100), 5),
        # user 2: singleton, then a 45-min gap closes it
        (2, ts(5), 6), (2, ts(50), 7), (2, ts(55), 8),
        # user 3: exactly-30-min gap stays INSIDE the session
        (3, ts(0), 9), (3, ts(30), 10),
    ]
    batches = [
        real[0:2] + real[5:6] + real[8:9],          # 00:00-00:10 region
        real[2:4] + real[6:7] + real[9:10],         # 00:20/01:30/00:50/00:30
        real[4:5] + real[7:8]
        + [(1, sentinel, 100), (2, sentinel, 101), (3, sentinel, 102)],
    ]
    src = tmp_path / "sess_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text(
            "\n".join(
                json.dumps(
                    {
                        "user_id": u,
                        "ts": t.strftime("%Y-%m-%dT%H:%M:%S"),
                        "event_id": e,
                    }
                )
                for u, t, e in rows
            )
        )
        # the file source orders micro-batches by MODIFICATION TIME, not
        # name — pin strictly increasing mtimes or batch order scrambles
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_stream").collect()
        if r.session_start < sentinel  # sentinel sessions stay open
    }

    # batch ground truth over the SAME real events
    spark.createDataFrame(
        [
            (e, t, u, "click", 1.0, "{}")
            for u, t, e in real
        ],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    expect = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in entrymod.queries()["events_sessionize"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expect and len(got) == 5


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Stream/batch parity for exact dedup: duplicates split across
    THREE micro-batches (cross-batch copies must be dropped by the
    persisted hash store, within-batch copies by min-id survivorship);
    the streamed keep-set equals the batch exact_dedup keep-set over
    the same corpus — one shared normalize_text/md5 code path.

    ASSUMPTION this parity encodes (r7 ADVICE #3, stated in the module
    docstring too): doc ids are MONOTONE with arrival order (each batch
    carries larger ids than the last), so streaming's first-seen-batch
    survivorship coincides with batch dedup's global min-id keep-set.
    With non-monotone ids the kept CONTENT set is still identical; only
    which copy's id survives differs."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import exact_dedup
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_kept_docs,
        start_exact_dedup_stream,
    )

    docs = [
        {"doc_id": 1, "text": "alpha beta gamma"},
        {"doc_id": 2, "text": "different content entirely"},
        # whitespace/case variant of 1 -> same canonical hash, later batch
        {"doc_id": 3, "text": "  Alpha   BETA gamma "},
        {"doc_id": 4, "text": "unique four"},
        # exact copy of 2 in the SAME batch as 4
        {"doc_id": 5, "text": "different content entirely"},
        # copy of 4 in the last batch
        {"doc_id": 6, "text": "unique four"},
        {"doc_id": 7, "text": "last unique"},
    ]
    batches = [docs[0:2], docs[2:5], docs[5:7]]
    src = tmp_path / "ed_in"
    src.mkdir()
    for i, chunk in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text("\n".join(json.dumps(d) for d in chunk))
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = start_exact_dedup_stream(
        stream,
        str(tmp_path / "ed_store"),
        str(tmp_path / "ed_kept"),
        str(tmp_path / "ed_ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id
        for r in read_kept_docs(spark, str(tmp_path / "ed_kept")).collect()
    }
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string"
    )
    expected = {
        r.keep_id for r in exact_dedup(batch_df).collect()
    }
    assert expected == {1, 2, 4, 7}  # canonicalization folds 3, 5, 6
    assert streamed == expected


def test_streaming_exact_dedup_replay_and_prune(spark, tmp_path):
    """Replaying the same files duplicates nothing (batch-id dynamic
    overwrite) and prune_hash_store retires old partitions so re-sent
    old content is kept again — the dedup-within-horizon trade."""
    from boann_ocsf_security_data_platform_spark.streaming import (
        prune_hash_store,
        read_kept_docs,
        start_exact_dedup_stream,
    )

    src = tmp_path / "ed2_in"
    src.mkdir()
    for i, rows in enumerate(
        [[{"doc_id": 1, "text": "aa bb"}], [{"doc_id": 2, "text": "aa bb"}]]
    ):
        f = src / f"b{i}.json"
        f.write_text("\n".join(json.dumps(d) for d in rows))
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    dirs = dict(
        store=str(tmp_path / "ed2_store"),
        kept=str(tmp_path / "ed2_kept"),
    )

    def run(ckpt):
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
        q = start_exact_dedup_stream(
            stream, dirs["store"], dirs["kept"],
            str(tmp_path / ckpt), available_now=True,
        )
        q.awaitTermination(120)

    run("ed2_ckpt_a")
    first = sorted(
        r.doc_id for r in read_kept_docs(spark, dirs["kept"]).collect()
    )
    assert first == [1]  # doc 2 is a cross-batch duplicate
    # replay from scratch (fresh checkpoint): partitions overwritten,
    # not appended
    run("ed2_ckpt_b")
    again = sorted(
        r.doc_id for r in read_kept_docs(spark, dirs["kept"]).collect()
    )
    assert again == [1]
    # prune everything: re-sent old content is now kept again
    prune_hash_store(spark, dirs["store"], keep_from_batch_id=99)
    import glob

    assert not glob.glob(f"{dirs['store']}/_batch_id=*")


# ---------------------------------------------------------------------------
# Round-8: the COMPOSED streaming curation funnel (r7 VERDICT item #6)
# ---------------------------------------------------------------------------

_FUNNEL_DOCS = [
    # batch 0
    {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog "
                          "while it is still early in the morning"},
    {"doc_id": 2, "text": "spark clusters shuffle data between executors "
                          "and the optimizer prunes columns for every scan"},
    # batch 1
    {"doc_id": 3, "text": "  The QUICK brown fox jumps over the lazy dog "
                          "while it is still early in the morning  "},  # exact dup of 1
    {"doc_id": 4, "text": "spark clusters shuffle data between executors "
                          "and the optimizer prunes columns for every scan "
                          "today"},  # near dup of 2
    {"doc_id": 5, "text": "aaa!!! 123 ??"},  # fails the quality gate
    # batch 2
    {"doc_id": 6, "text": "benchmark questions about ancient rome appear "
                          "in this document so it must be quarantined from "
                          "the training corpus"},  # contaminated
    {"doc_id": 7, "text": "a completely fresh document with plenty of "
                          "ordinary words that should sail through every "
                          "single stage of the funnel"},
]
_FUNNEL_BENCH = "benchmark questions about ancient rome and other topics"


def test_streaming_curation_funnel_matches_batch(spark, tmp_path):
    """End-to-end parity for the COMPOSED funnel: exact dedup -> near-dup
    -> quality gate -> decontamination chained in ONE foreachBatch, over
    three micro-batches, equals the same four stages composed from the
    batch operators over the full corpus (exact_dedup keep-set ->
    drop-every-id_b of minhash_near_dup_pairs -> text_quality thresholds
    -> decontaminate). Ids are monotone with arrival order — the same
    contract the per-stage parity tests encode."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        decontaminate,
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from boann_ocsf_security_data_platform_spark.operators.text import text_quality
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_funnel_report,
        read_funnel_survivors,
        start_curation_funnel_stream,
    )

    src = tmp_path / "fun_in"
    src.mkdir()
    batches = [_FUNNEL_DOCS[0:2], _FUNNEL_DOCS[2:5], _FUNNEL_DOCS[5:7]]
    for i, chunk in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text("\n".join(json.dumps(d) for d in chunk))
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    benchmark = spark.createDataFrame([(_FUNNEL_BENCH,)], "text string")

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    d = {k: str(tmp_path / f"fun_{k}") for k in
         ("hash", "band", "out", "counts", "ckpt")}
    q, release = start_curation_funnel_stream(
        stream, benchmark, d["hash"], d["band"], d["out"], d["counts"],
        d["ckpt"], available_now=True,
    )
    q.awaitTermination(180)
    release()

    streamed = {
        r.doc_id
        for r in read_funnel_survivors(spark, d["out"]).collect()
    }
    report = {
        r.stage: r.n_docs
        for r in read_funnel_report(spark, d["counts"]).collect()
    }

    # batch composition of the SAME four stages over the full corpus
    docs = spark.createDataFrame(
        [(x["doc_id"], x["text"]) for x in _FUNNEL_DOCS],
        "doc_id long, text string",
    )
    s1 = docs.join(
        exact_dedup(docs).select(F.col("keep_id").alias("doc_id")), "doc_id"
    )
    pairs = minhash_near_dup_pairs(s1)
    s2 = s1.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    s3 = (
        text_quality(s2)
        .where((F.col("quality_score") >= 0.75) & (F.col("n_tokens") >= 10))
        .select("doc_id", "text")
    )
    s4 = decontaminate(s3, benchmark)
    batch_ids = {r.doc_id for r in s4.collect()}

    assert streamed == batch_ids
    # the fixture exercises every stage: doc 3 exact-dup, doc 4 near-dup,
    # doc 5 quality, doc 6 contamination
    assert streamed == {1, 2, 7}
    assert report["s0_raw"] == 7
    assert report["s1_exact_dedup"] == {
        r.doc_id for r in s1.collect()
    }.__len__()
    assert report["s2_near_dup"] == s2.count()
    assert report["s3_quality"] == s3.count()
    assert report["s4_decontaminated"] == len(batch_ids)


def test_streaming_curation_funnel_replay_idempotent(spark, tmp_path):
    """Re-running the funnel over the same source from a FRESH checkpoint
    reproduces identical survivors and counts — the replay guard reads
    only strictly-earlier store partitions, so a batch that finds its own
    partition in the stores recomputes its original result instead of
    anti-joining against itself."""
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_funnel_report,
        read_funnel_survivors,
        start_curation_funnel_stream,
    )

    src = tmp_path / "funr_in"
    src.mkdir()
    batches = [_FUNNEL_DOCS[0:2], _FUNNEL_DOCS[2:5], _FUNNEL_DOCS[5:7]]
    for i, chunk in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text("\n".join(json.dumps(x) for x in chunk))
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    benchmark = spark.createDataFrame([(_FUNNEL_BENCH,)], "text string")
    d = {k: str(tmp_path / f"funr_{k}") for k in
         ("hash", "band", "out", "counts")}

    def run(ckpt):
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
        q, release = start_curation_funnel_stream(
            stream, benchmark, d["hash"], d["band"], d["out"], d["counts"],
            str(tmp_path / ckpt), available_now=True,
        )
        q.awaitTermination(180)
        release()

    run("funr_ckpt_a")
    first = sorted(
        r.doc_id for r in read_funnel_survivors(spark, d["out"]).collect()
    )
    counts_a = {
        (r.stage, r.n_docs)
        for r in read_funnel_report(spark, d["counts"]).collect()
    }
    run("funr_ckpt_b")  # full replay against warm stores
    again = sorted(
        r.doc_id for r in read_funnel_survivors(spark, d["out"]).collect()
    )
    counts_b = {
        (r.stage, r.n_docs)
        for r in read_funnel_report(spark, d["counts"]).collect()
    }
    assert first == again == [1, 2, 7]
    assert counts_a == counts_b


def test_streaming_curation_funnel_prune_horizon(spark, tmp_path):
    """The funnel's state valves are the standalone prune functions
    (re-exported from streaming.funnel): after pruning BOTH stores, a
    re-sent copy of an old document is no longer recognized as a
    duplicate — the documented dedup-within-horizon trade, now holding
    for the composed pipeline too."""
    from boann_ocsf_security_data_platform_spark.streaming.funnel import (
        prune_band_store,
        prune_hash_store,
    )
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_funnel_survivors,
        start_curation_funnel_stream,
    )

    good = ("a perfectly ordinary training document with many plain "
            "words that passes every quality check easily")
    src = tmp_path / "funp_in"
    src.mkdir()
    (src / "b0.json").write_text(json.dumps({"doc_id": 1, "text": good}))
    benchmark = spark.createDataFrame(
        [("totally unrelated benchmark text",)], "text string"
    )
    d = {k: str(tmp_path / f"funp_{k}") for k in
         ("hash", "band", "out", "counts")}

    def run(ckpt):
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
        q, release = start_curation_funnel_stream(
            stream, benchmark, d["hash"], d["band"], d["out"], d["counts"],
            str(tmp_path / ckpt), available_now=True,
        )
        q.awaitTermination(120)
        release()

    run("funp_ckpt_a")
    assert {
        r.doc_id for r in read_funnel_survivors(spark, d["out"]).collect()
    } == {1}
    # second batch: an exact copy under a new id is deduped...
    (src / "b1.json").write_text(json.dumps({"doc_id": 2, "text": good}))
    run("funp_ckpt_a")
    assert {
        r.doc_id for r in read_funnel_survivors(spark, d["out"]).collect()
    } == {1}
    # ...but after the horizon retires all stored state, a third copy
    # sails through (stores empty => nothing to collide with)
    prune_hash_store(spark, d["hash"], keep_from_batch_id=99)
    prune_band_store(spark, d["band"], keep_from_batch_id=99)
    (src / "b2.json").write_text(json.dumps({"doc_id": 3, "text": good}))
    run("funp_ckpt_a")
    assert {
        r.doc_id for r in read_funnel_survivors(spark, d["out"]).collect()
    } == {1, 3}


def test_streaming_funnel_ivf_index_stage(spark, tmp_path):
    """Round-9 (r8 VERDICT item #5): the optional fifth funnel stage
    appends each batch's survivors' embeddings to a persisted IVF index,
    batch-id idempotent like the landing sink. Pins:

    - counts gain an s5_indexed row summing to the survivor count;
    - with full probing (n_probe = n_centroids, where IVF == exact brute
      force) the appended index answers queries EXACTLY like a fresh
      build_ivf_index over base ∪ survivors — the recall-parity contract;
    - a replay from a fresh checkpoint leaves the index byte-identical
      (dynamic overwrite of the batch's own (cent_id, _batch_id)
      partitions with deterministic frozen-centroid assignment)."""
    import random

    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_funnel_report,
        start_curation_funnel_stream,
    )

    def vec(i):
        rng = random.Random(i)
        return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(64)]

    base = spark.createDataFrame(
        [(100 + j, vec(100 + j)) for j in range(8)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_centroids=4, train_iters=2)

    src = tmp_path / "fun_in"
    src.mkdir()
    docs = [dict(d, embedding=vec(d["doc_id"])) for d in _FUNNEL_DOCS]
    batches = [docs[0:2], docs[2:5], docs[5:7]]
    for i, chunk in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text("\n".join(json.dumps(d) for d in chunk))
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    benchmark = spark.createDataFrame([(_FUNNEL_BENCH,)], "text string")

    def run(ck):
        stream = spark.readStream.schema(
            "doc_id long, text string, embedding array<double>"
        ).option("maxFilesPerTrigger", 1).json(str(src))
        d = {k: str(tmp_path / f"fun_{k}") for k in
             ("hash", "band", "out", "counts")}
        q, release = start_curation_funnel_stream(
            stream, benchmark, d["hash"], d["band"], d["out"], d["counts"],
            str(tmp_path / ck), available_now=True, ivf_index_dir=idx,
        )
        q.awaitTermination(180)
        release()
        return d

    d = run("ckpt1")
    report = {
        r.stage: r.n_docs
        for r in read_funnel_report(spark, d["counts"]).collect()
    }
    assert report["s5_indexed"] == report["s4_decontaminated"] == 3

    # recall parity: full probing == exact, so appended must match fresh
    union = base.unionByName(
        spark.createDataFrame(
            [(i, vec(i)) for i in (1, 2, 7)],
            "vec_id long, embedding array<double>",
        )
    )
    fresh = str(tmp_path / "ivf_fresh")
    build_ivf_index(union, fresh, n_centroids=4, train_iters=2)
    probes = spark.createDataFrame(
        [(900, vec(900)), (901, vec(901))],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        tuple(r) for r in query_ivf_index(
            spark, idx, probes, k=3, n_probe=4
        ).collect()
    )
    want = sorted(
        tuple(r) for r in query_ivf_index(
            spark, fresh, probes, k=3, n_probe=4
        ).collect()
    )
    assert got == want and len(got) == 6
    # streamed survivors are reachable through the appended index
    assert {n for _, n, _, _ in got} & {1, 2, 7}

    # replay: fresh checkpoint over the same source rewrites the same
    # (cent_id, _batch_id) partitions with identical rows
    before = sorted(
        (r.vec_id, r.cent_id, r._batch_id)
        for r in spark.read.parquet(f"{idx}/lists").collect()
    )
    run("ckpt2")
    after = sorted(
        (r.vec_id, r.cent_id, r._batch_id)
        for r in spark.read.parquet(f"{idx}/lists").collect()
    )
    assert before == after

    # maintenance: compact from the stream's REAL checkpoint commit log —
    # availableNow committed all three batches, so every append partition
    # folds into the base generation and queries are unchanged
    from boann_ocsf_security_data_platform_spark.streaming import (
        compact_funnel_index,
    )
    from pyspark.sql import functions as F

    n = compact_funnel_index(spark, idx, str(tmp_path / "ckpt2"))
    lists = spark.read.parquet(f"{idx}/lists")
    assert n == lists.count() == 11  # 8 base + 3 streamed survivors
    assert lists.filter(F.col("_batch_id") != -1).count() == 0
    assert sorted(
        tuple(r) for r in query_ivf_index(
            spark, idx, probes, k=3, n_probe=4
        ).collect()
    ) == want
