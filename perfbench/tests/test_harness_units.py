"""Unit tests for the benchmark's own code: generator determinism, the
event-log fold, and the percentile / open-loop latency arithmetic. No
Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.stats import (  # noqa: E402
    open_loop_latencies,
    percentile,
    progress_commit_s,
    spread,
)
from perfbench.trace import fold_event_log, read_event_log  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

def test_sarif_same_seed_same_bytes():
    a, ta = gen.sarif_files(7, 5, 40)
    b, tb = gen.sarif_files(7, 5, 40)
    assert a == b and ta == tb
    c, _ = gen.sarif_files(8, 5, 40)
    assert [t for _, t in a] != [t for _, t in c]


def test_sarif_truth_matches_documents():
    files, truth = gen.sarif_files(3, 6, 50)
    assert truth.findings == 6 * 50
    assert truth.fingerprint + truth.hash == truth.findings
    assert sum(truth.severity.values()) == truth.findings
    sev = {}
    fp = 0
    list_cwe = dup_rules = missing_level = 0
    for _, text in files:
        for run in json.loads(text)["runs"]:
            ids = [r["id"] for r in run["tool"]["driver"]["rules"]]
            dup_rules += len(ids) != len(set(ids))
            list_cwe += any(
                isinstance(r.get("properties", {}).get("cwe"), list)
                for r in run["tool"]["driver"]["rules"]
            )
            for res in run["results"]:
                level = res.get("level")
                missing_level += level is None
                s = gen.SEVERITY_OF_LEVEL[level]
                sev[s] = sev.get(s, 0) + 1
                fp += bool(res.get("fingerprints") or res.get("partialFingerprints"))
    assert sev == truth.severity
    assert fp == truth.fingerprint
    assert dup_rules and list_cwe and missing_level
    assert 0.35 < truth.fingerprint / truth.findings < 0.65


def test_ocsf_files_deterministic_with_known_bad_share():
    a = gen.ocsf_files(5, 200, 4, 0.1, "t")
    assert a == gen.ocsf_files(5, 200, 4, 0.1, "t")
    assert a != gen.ocsf_files(6, 200, 4, 0.1, "t")
    kinds = [f.kind for f in a]
    assert 5 < kinds.count("malformed") + kinds.count("uidless") < 40
    for f in a:
        if f.kind == "malformed":
            with pytest.raises(json.JSONDecodeError):
                json.loads(f.text)
            continue
        findings = json.loads(f.text)
        missing = sum("uid" not in x["finding_info"] for x in findings)
        assert missing == (1 if f.kind == "uidless" else 0)
        if f.kind == "ok":
            assert [x["finding_info"]["uid"] for x in findings] == f.uids


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------

def test_fold_whole_log():
    got = fold_event_log(read_event_log(DATA))
    assert got == {
        "jobs": 3,
        "stages": 4,  # stage 2 was skipped
        "tasks": 6,
        "failed_tasks": 1,
        "shuffle_read_bytes": 90 + 60 + 150,
        "shuffle_write_bytes": 150,
        "spill_bytes": 7 + 3,
        "gc_ms": 1 + 1 + 1 + 0 + 2 + 5,
        "executor_run_ms": 10 + 10 + 10 + 3 + 20 + 100,
        "executor_cpu_ms": 5 + 5 + 5 + 1 + 8 + 50,
        "input_bytes": 1000 + 500 + 4000,
        "output_bytes": 40,
    }


def test_fold_keeps_only_the_named_job_groups():
    got = fold_event_log(read_event_log(DATA), {"perfbench-0", "perfbench-1"})
    assert (got["jobs"], got["stages"], got["tasks"]) == (2, 3, 5)
    assert got["input_bytes"] == 1500
    assert got["executor_cpu_ms"] == 24
    # job 2 ran with no job group: a harness check, never kept
    only = fold_event_log(read_event_log(DATA), {"perfbench-1"})
    assert (only["jobs"], only["stages"], only["tasks"]) == (1, 1, 1)
    assert fold_event_log(read_event_log(DATA), set())["jobs"] == 0


# ---------------------------------------------------------------------------
# percentile and open-loop arithmetic
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("xs", [[3.0, 1.0, 2.0], [5, 1, 4, 2, 3, 9, 7], list(range(100))])
def test_percentile_matches_inclusive_quantiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile(xs, 0) == min(xs) and percentile(xs, 100) == max(xs)


def test_percentile_single_and_interpolated():
    assert percentile([4.0], 90) == 4.0
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_spread_is_iqr_over_median():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def test_progress_commit_adds_trigger_execution():
    assert progress_commit_s("1970-01-01T00:00:10.000Z", 1500) == pytest.approx(11.5)
    assert progress_commit_s("2024-03-15T10:30:00.250Z", 0) == pytest.approx(1710498600.25)


def test_open_loop_latency_from_scheduled_drop_to_commit():
    scheduled = {"a": 100.0, "b": 100.5, "c": 101.0, "lost": 101.5}
    file_batch = {"a": 3, "b": 3, "c": 4}
    commit = {3: 101.2, 4: 101.9}
    lat = open_loop_latencies(scheduled, file_batch, commit)
    assert lat == pytest.approx({"a": 1.2, "b": 0.7, "c": 0.9})
    assert "lost" not in lat
    assert percentile(list(lat.values()), 50) == pytest.approx(0.9)
