"""The session memo: driver-side plan pieces (Column tuples, StructTypes,
table counts) built once per SparkContext. Memoized builds must match a
fresh build row for row, per-call values must stay out of the keys, a
rewritten table must be re-read, and nothing crosses SparkContexts."""

import datetime
import os
import subprocess
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from boann_ocsf_security_data_platform_spark import session
from boann_ocsf_security_data_platform_spark.plans import (
    FindingUIDGenerator,
    ScanMetadataEnrichment,
    apply_enrichments,
    convert_sarif_to_ocsf,
    ocsf_to_json,
    stage,
)
from boann_ocsf_security_data_platform_spark.session import session_memo
from boann_ocsf_security_data_platform_spark.sources import load_table, read_sarif

T0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
T1 = datetime.datetime(2024, 1, 2, 12, 0, 0)
T2 = datetime.datetime(2024, 1, 3, 12, 0, 0)


def _memo_size(spark) -> int:
    return len(session._MEMOS.get(spark.sparkContext, {}))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_memo_is_per_spark_context():
    """An entry built under one context is never returned under another,
    and it goes away with its context."""
    a = types.SimpleNamespace(sparkContext=type("Ctx", (), {})())
    b = types.SimpleNamespace(sparkContext=type("Ctx", (), {})())
    assert session_memo(a, "k", lambda: "built-a") == "built-a"
    assert session_memo(b, "k", lambda: "built-b") == "built-b"
    assert session_memo(a, "k", lambda: "rebuilt") == "built-a"
    n = len(session._MEMOS)
    del a
    assert len(session._MEMOS) == n - 1


def test_load_table_memoized_read_starts_no_job(spark, tmp_path, spark_jobs):
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"k": [3, 1, 2], "ts": pa.array([1, 2, 3], pa.timestamp("us"))}),
        f"{sf}/t.parquet",
    )
    with spark_jobs("memo-first-read") as jobs:
        first = load_table(spark, sf, "t")
        assert jobs(), "the first read infers the schema with a Spark job"
    with spark_jobs("memo-second-read") as jobs:
        again = load_table(spark, sf, "t")
        assert jobs() == []
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)
    assert again.schema["ts"].dataType.typeName() == "timestamp_ntz"


def test_load_table_picks_up_rewritten_files(spark, tmp_path, spark_jobs):
    """A rewrite — more rows, then an added column — is read afresh, for a
    single-file table and for a directory written by Spark."""
    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2]}), f"{sf}/t.parquet")
    assert load_table(spark, sf, "t").count() == 2
    pq.write_table(pa.table({"k": [1, 2, 3]}), f"{sf}/t.parquet")
    assert load_table(spark, sf, "t").count() == 3
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), f"{sf}/t.parquet")
    assert load_table(spark, sf, "t").columns == ["k", "v"]
    assert sorted(r.v for r in load_table(spark, sf, "t").collect()) == ["a", "b", "c"]

    spark.range(4).write.parquet(f"{sf}/d.parquet")
    assert load_table(spark, sf, "d").columns == ["id"]
    with spark_jobs("memo-dir-read") as jobs:
        load_table(spark, sf, "d")
        assert jobs() == []
    spark.range(5).withColumn("w", F.col("id") * 2).write.mode("overwrite").parquet(
        f"{sf}/d.parquet"
    )
    d = load_table(spark, sf, "d")
    assert d.columns == ["id", "w"] and d.count() == 5


def test_load_table_memo_matches_inferred_read(spark, sf_smoke):
    """The nanos timestamp column and the NTZ normalization come out the
    same from the memoized schema as from a fresh inference."""
    for name in ("events", "orders"):
        session._MEMOS.pop(spark.sparkContext, None)
        fresh = load_table(spark, sf_smoke, name)
        memo = load_table(spark, sf_smoke, name)
        assert memo.schema == fresh.schema
        assert _rows(memo) == _rows(fresh)


def test_table_count_recounts_rewritten_table(spark, tmp_path, spark_jobs):
    import __spark_entry__ as em

    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2]}), f"{sf}/t.parquet")
    assert em._table_count(spark, sf, "t") == 2
    with spark_jobs("memo-count") as jobs:
        assert em._table_count(spark, sf, "t") == 2
        assert jobs() == []
    pq.write_table(pa.table({"k": [1, 2, 3, 4]}), f"{sf}/t.parquet")
    assert em._table_count(spark, sf, "t") == 4


def _elt(spark, sarif, now_ms: int, run_id: str, hwm: datetime.datetime):
    ocsf = convert_sarif_to_ocsf(sarif, now_ms=now_ms)
    enriched = apply_enrichments(
        ocsf, [FindingUIDGenerator(), ScanMetadataEnrichment(run_id)]
    )
    js = ocsf_to_json(enriched)
    landing = js.withColumn("loaded_at", F.lit(T0)).unionByName(
        js.withColumn("loaded_at", F.lit(T2))
    )
    return enriched, stage(landing, hwm=hwm)


def test_memoized_elt_matches_fresh_build(spark, fixtures_dir):
    sarif = read_sarif(spark, os.path.join(fixtures_dir, "sample.sarif"))
    for now_ms, run_id in ((1710500000000, "run-a"), (1810500000000, "run-b")):
        session._MEMOS.pop(spark.sparkContext, None)
        fresh = [df.collect() for df in _elt(spark, sarif, now_ms, run_id, T1)]
        ocsf, stg = [df.collect() for df in _elt(spark, sarif, now_ms, run_id, T1)]
        assert [sorted(map(repr, rows)) for rows in (ocsf, stg)] == [
            sorted(map(repr, rows)) for rows in fresh
        ]
        # the per-call values reached the output
        assert {r.time for r in ocsf} == {now_ms}
        assert all(
            run_id in [e.data.get("scan_run_id") for e in r.enrichments]
            for r in ocsf
        )
        assert len(stg) == 6 and {r.staging_loaded_at for r in stg} == {T2}


def test_memo_does_not_grow_with_per_call_values(spark, fixtures_dir):
    sarif = read_sarif(spark, os.path.join(fixtures_dir, "sample.sarif"))
    _elt(spark, sarif, 1, "run-0", T0)
    n = _memo_size(spark)
    for i in range(2, 6):
        _elt(spark, sarif, i, f"run-{i}", T0 + datetime.timedelta(hours=i))
    assert _memo_size(spark) == n


_RESTART = """
import sys
sys.path.insert(0, sys.argv[1])
from boann_ocsf_security_data_platform_spark import get_spark
from boann_ocsf_security_data_platform_spark.plans import convert_sarif_to_ocsf
from boann_ocsf_security_data_platform_spark.session import session_memo
from boann_ocsf_security_data_platform_spark.sources import read_sarif

sarif = sys.argv[1] + "/tests/fixtures/sample.sarif"
spark = get_spark(master="local[1]")
assert session_memo(spark, "k", lambda: "first") == "first"
assert convert_sarif_to_ocsf(read_sarif(spark, sarif)).count() == 6
spark.stop()
spark = get_spark(master="local[1]")
assert session_memo(spark, "k", lambda: "second") == "second"
assert convert_sarif_to_ocsf(read_sarif(spark, sarif)).count() == 6
spark.stop()
print("ok")
"""


@pytest.mark.slow  # ~20 s fresh JVM with a stop/restart — slow tier
def test_memo_rebuilds_after_context_restart():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, root],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]
