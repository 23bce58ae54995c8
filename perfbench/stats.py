"""Pure arithmetic shared by the workloads: percentiles and open-loop
latency. No Spark here, so it is unit-tested directly."""

from __future__ import annotations

import datetime
import statistics


def percentile(values, q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default,
    ``statistics.quantiles(method="inclusive")``); ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def progress_commit_s(timestamp: str, trigger_execution_ms: float) -> float:
    """Epoch seconds at which a micro-batch committed: its trigger start
    (``StreamingQueryProgress.timestamp``, ISO-8601 UTC) plus the
    ``triggerExecution`` duration."""
    ts = datetime.datetime.fromisoformat(timestamp.replace("Z", "+00:00"))
    return ts.timestamp() + trigger_execution_ms / 1000.0


def open_loop_latencies(
    scheduled: dict[str, float],
    file_batch: dict[str, int],
    batch_commit: dict[int, float],
) -> dict[str, float]:
    """Per-file latency of an open-loop run: from the file's SCHEDULED drop
    time (not the actual one, so a late generator shows up as latency
    instead of hiding it) to the commit of the micro-batch that landed it.
    Files that never landed are left out; the caller counts them as
    failures."""
    out = {}
    for name, t0 in scheduled.items():
        batch = file_batch.get(name)
        if batch is not None and batch in batch_commit:
            out[name] = batch_commit[batch] - t0
    return out


def spread(values) -> float:
    """Interquartile range as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles — the
    steadiness figure the benchmark is tuned against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
