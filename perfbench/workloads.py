"""The benchmark's workloads. Each takes a ``Ctx`` (session, seed, window,
tracer) and returns an ``Outcome``: the end-to-end values every workload
reports, the workload-named figures, per-layer values for the traced run,
and attempted/failed counts from output checks run outside the timed
regions."""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import threading
import time

from . import gen
from .harness import dir_files
from .stats import median, open_loop_latencies, percentile, progress_commit_s
from .trace import Tracer, make_progress_collector


@dataclasses.dataclass
class Ctx:
    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    tracer: Tracer


@dataclasses.dataclass
class Outcome:
    setup_s: float = 0.0
    cold_s: float = 0.0
    pass_s: float = 0.0
    throughput_per_s: float = 0.0
    named: dict = dataclasses.field(default_factory=dict)  # name -> (value, unit)
    layers: dict = dataclasses.field(default_factory=dict)
    samples: list = dataclasses.field(default_factory=list)  # measured pass walls
    artifacts: dict = dataclasses.field(default_factory=dict)  # written with the trace
    attempted: int = 0
    failed: int = 0
    errors: list = dataclasses.field(default_factory=list)
    sf: float | None = None
    cache_state: str = "fresh landing and staging paths per pass, warm JVM"

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _measure_loop(seconds: float, min_ops: int, op) -> None:
    """Run ``op(i)`` until ``seconds`` have passed and ``min_ops`` ran."""
    end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < end:
        op(i)
        i += 1


def _alternate(tracer: Tracer, one_pass, plain: list, traced: list):
    """The traced run interleaves untraced and traced passes in ABBA order,
    so tracing overhead is a difference measured in one session that the
    JIT warming trend across passes does not bias."""

    def op(i: int) -> None:
        if tracer.enabled and i % 4 in (1, 2):
            traced.append(one_pass(f"t{i}", True))
        else:
            plain.append(one_pass(f"p{i}", False))

    return op


# ---------------------------------------------------------------------------
# pipeline: the SARIF→staging ELT, then the streaming monitor feeding the
# same landing/staging code
# ---------------------------------------------------------------------------

ELT_FILES = 20
ELT_FINDINGS_PER_FILE = 500
ELT_NOW_MS = 1710500000000
ELT_MIN_PASSES = 2

MON_FINDINGS_PER_FILE = 100
MON_FILES_PER_TRIGGER = 50
MON_BACKLOG_FILES = 200
MON_RATE_FILES_PER_S = 15.0  # open loop: about 40% of the drain capacity
MON_BAD_SHARE = 0.02
MON_DRAIN_TIMEOUT_S = 60.0


def pipeline(ctx: Ctx) -> Outcome:
    out = Outcome()
    t_setup = time.perf_counter()
    elt = _Elt(ctx, out)
    mon = _Monitor(ctx, out)
    out.cold_s = elt.one_pass("cold", False)
    out.setup_s = time.perf_counter() - t_setup
    elt.measure()
    mon.run()
    out.named = {
        "elt_findings_per_s": (elt.truth.findings / out.pass_s, "rows/s"),
        "elt_cold_s": (out.cold_s, "s"),
        "elt_pass_s": (out.pass_s, "s"),
        **mon.named,
    }
    return out


class _Elt:
    """One pass: read_sarif → convert → enrich → ocsf_to_json → land →
    high_water_mark/stage/write_staging → quality checks + reconciliation,
    into fresh landing and staging paths."""

    def __init__(self, ctx: Ctx, out: Outcome):
        from boann_ocsf_security_data_platform_spark.plans import (
            FindingUIDGenerator,
            ScanMetadataEnrichment,
        )
        from boann_ocsf_security_data_platform_spark.plans.enrich import (
            discover_enrichments,
            instantiate_enrichments,
        )

        self.ctx, self.out = ctx, out
        files, self.truth = gen.sarif_files(ctx.seed, ELT_FILES, ELT_FINDINGS_PER_FILE)
        self.src = os.path.join(ctx.work, "sarif")
        gen.write_files(files, self.src)
        plugins = instantiate_enrichments(
            discover_enrichments([os.path.join(ctx.root, "tests", "fixtures", "plugins")])
        )
        self.enrichments = [
            FindingUIDGenerator(),
            *plugins,
            ScanMetadataEnrichment(f"perfbench-{ctx.seed}"),
        ]
        self.layer_walls: dict[str, list[float]] = {}

    def one_pass(self, tag: str, traced: bool) -> float:
        from boann_ocsf_security_data_platform_spark.plans import (
            apply_enrichments,
            convert_sarif_to_ocsf,
            land,
            ocsf_to_json,
            read_landing,
            stage,
        )
        from boann_ocsf_security_data_platform_spark.plans.quality import (
            reconciliation_violations,
            run_quality_checks,
        )
        from boann_ocsf_security_data_platform_spark.plans.staging import (
            high_water_mark,
            write_staging,
        )
        from boann_ocsf_security_data_platform_spark.sources import read_sarif
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, truth = self.ctx.spark, self.truth
        span = self.ctx.tracer.span if traced else (lambda name: contextlib.nullcontext())
        base = os.path.join(self.ctx.work, "pass", tag)
        landing, staging = f"{base}/landing", f"{base}/staging"
        walls: dict[str, float] = {}
        # the traced run's event-log fold keeps the jobs of this region
        with self.ctx.tracer.measured(tag) if tag.startswith("p") else contextlib.nullcontext():
            t0 = time.perf_counter()
            ocsf = convert_sarif_to_ocsf(read_sarif(spark, self.src), now_ms=ELT_NOW_MS)
            enriched = apply_enrichments(ocsf, self.enrichments)
            if traced:
                # each lazy layer alone to a noop sink: its self time is its
                # prefix's time minus the parent prefix's
                obs = Observation("convert")
                with span("plans.convert"):
                    _, walls["convert"] = _timed(
                        lambda: _noop(ocsf.observe(obs, F.count(F.lit(1)).alias("rows")))
                    )
                walls["rows"] = obs.get["rows"]
                with span("plans.enrich"):
                    _, walls["enrich_prefix"] = _timed(lambda: _noop(enriched))
            with span("plans.landing"):
                _, walls["land"] = _timed(lambda: land(ocsf_to_json(enriched), landing))
            with span("plans.staging.hwm"):
                hwm, walls["hwm"] = _timed(lambda: high_water_mark(spark, staging))
            with span("plans.staging.write"):
                _, walls["stage_write"] = _timed(
                    lambda: write_staging(stage(read_landing(spark, landing), hwm=hwm), staging)
                )
            stg = spark.read.parquet(staging)
            with span("plans.quality.checks"):
                quality, walls["checks"] = _timed(lambda: run_quality_checks(stg))
            with span("plans.quality.reconcile"):
                missing, walls["reconcile"] = _timed(
                    lambda: reconciliation_violations(read_landing(spark, landing), stg).count()
                )
            wall = time.perf_counter() - t0

        # output checks (untimed): one aggregate over the staged table
        method = (
            F.when(F.col("finding_uid").contains(":fingerprint:"), "fingerprint")
            .when(F.col("finding_uid").contains(":hash:"), "hash")
            .otherwise("other")
        )
        sev: dict[str, int] = {}
        meth: dict[str, int] = {}
        for r in stg.groupBy("finding_severity", method.alias("m")).count().collect():
            sev[r["finding_severity"]] = sev.get(r["finding_severity"], 0) + r["count"]
            meth[r["m"]] = meth.get(r["m"], 0) + r["count"]
        self.out.check(
            sev == truth.severity
            and meth == {"fingerprint": truth.fingerprint, "hash": truth.hash}
            and not any(quality.values())
            and missing == 0,
            f"elt pass {tag}: severity={sev} uid={meth} quality={quality} missing={missing}",
        )
        if traced:
            walls["landing_files"], walls["landing_bytes"] = dir_files(landing)
            for k, v in walls.items():
                self.layer_walls.setdefault(k, []).append(v)
        shutil.rmtree(base, ignore_errors=True)
        return wall

    def measure(self) -> None:
        out, tr = self.out, self.ctx.tracer
        plain: list[float] = []
        traced: list[float] = []
        _measure_loop(
            self.ctx.seconds,
            2 * ELT_MIN_PASSES if tr.enabled else ELT_MIN_PASSES,
            _alternate(tr, self.one_pass, plain, traced),
        )
        out.pass_s = median(plain)
        out.samples = plain
        if not tr.enabled:
            return
        lw = {k: median(v) for k, v in self.layer_walls.items()}
        out.layers.update(
            {
                "trace.overhead.pass_s": median(traced) - out.pass_s,
                "plans.convert.self_s": lw["convert"],
                "plans.convert.rows_out": lw["rows"],
                "plans.enrich.self_s": max(lw["enrich_prefix"] - lw["convert"], 0.0),
                "plans.landing.write_s": max(lw["land"] - lw["enrich_prefix"], 0.0),
                "plans.landing.files": lw["landing_files"],
                "plans.landing.bytes_per_finding": lw["landing_bytes"] / lw["rows"],
                "plans.staging.hwm_s": lw["hwm"],
                "plans.staging.write_s": lw["stage_write"],
                "plans.staging.input_files": lw["landing_files"],
                "plans.staging.rows_per_s": lw["rows"] / lw["stage_write"],
                "plans.quality.checks_s": lw["checks"],
                "plans.quality.reconcile_s": lw["reconcile"],
            }
        )


class _Monitor:
    """``start_monitor_stream`` with ``cleanSource=archive`` and a failed
    folder, in three phases: (a) a closed-loop availableNow drain of a
    pre-written backlog; (b) an open loop, one generator thread dropping
    files by atomic rename on a fixed schedule under a 0-second trigger;
    (c) incremental staging over the landed micro-batch partitions."""

    def __init__(self, ctx: Ctx, out: Outcome):
        self.ctx, self.out = ctx, out
        w = ctx.work
        self.src, self.landing, self.ckpt = f"{w}/source", f"{w}/landing", f"{w}/checkpoint"
        self.archive, self.failed, self.outbox = f"{w}/archive", f"{w}/failed", f"{w}/outbox"
        for d in (self.src, self.outbox):
            os.makedirs(d)
        n_open = max(1, round(ctx.seconds * MON_RATE_FILES_PER_S))
        args = (MON_FINDINGS_PER_FILE, MON_BAD_SHARE)
        self.backlog = gen.ocsf_files(ctx.seed, MON_BACKLOG_FILES, *args, "backlog")
        self.open = gen.ocsf_files(ctx.seed, n_open, *args, "open")
        for f in self.backlog:
            _write(self.src, f)
        for f in self.open:
            _write(self.outbox, f)
        self.named: dict = {}

    def _start(self, **trigger):
        from boann_ocsf_security_data_platform_spark.streaming.monitor import (
            start_monitor_stream,
        )

        return start_monitor_stream(
            self.ctx.spark, self.src, self.landing, self.ckpt,
            archive_dir=self.archive, failed_dir=self.failed,
            max_files_per_trigger=MON_FILES_PER_TRIGGER, **trigger,
        )

    def run(self) -> None:
        from boann_ocsf_security_data_platform_spark.plans import read_landing, stage
        from boann_ocsf_security_data_platform_spark.plans.staging import (
            high_water_mark,
            write_staging,
        )

        spark, tr, out = self.ctx.spark, self.ctx.tracer, self.out
        collector = make_progress_collector()
        spark.streams.addListener(collector)

        def batches(run_id: str) -> list[dict]:
            return [p for p in collector.snapshot() if p["run"] == run_id and p["rows"]]

        def wait_consumed(run_id: str, n_files: int) -> None:
            # progress events reach the listener asynchronously; each input
            # row of the wholetext source is one file
            deadline = time.time() + MON_DRAIN_TIMEOUT_S
            while sum(p["rows"] for p in batches(run_id)) < n_files and time.time() < deadline:
                time.sleep(0.05)

        try:
            # (a) closed loop: throughput from the first trigger's start to
            # the last batch's commit (query start-up and shutdown excluded)
            with tr.span("streaming.monitor.drain"):
                q = self._start(available_now=True)
                q.awaitTermination()
            wait_consumed(str(q.runId), len(self.backlog))
            drain = batches(str(q.runId))
            drain_s = max(_commit(p) for p in drain) - min(_start(p) for p in drain)
            drain_files = sum(p["rows"] for p in drain)

            # (b) open loop
            scheduled: dict[str, float] = {}
            late: list[float] = []
            q = self._start(trigger_seconds=0)
            run_id = str(q.runId)

            def generator() -> None:
                t0 = time.time() + 0.5
                for i, f in enumerate(self.open):
                    at = t0 + i / MON_RATE_FILES_PER_S
                    scheduled[f.name] = at
                    delay = at - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    os.rename(os.path.join(self.outbox, f.name), os.path.join(self.src, f.name))
                    late.append(max(time.time() - at, 0.0))

            with tr.span("streaming.monitor.open_loop"):
                g = threading.Thread(target=generator, name="perfbench-generator")
                g.start()
                g.join()
                backlog_end = len(self.open) - sum(p["rows"] for p in batches(run_id))
                wait_consumed(run_id, len(self.open))
                q.stop()
            open_batches = batches(run_id)
            out.artifacts["progress"] = collector.snapshot()
        finally:
            spark.streams.removeListener(collector)

        # (c) one incremental stage over the landed micro-batch partitions
        staging = f"{self.ctx.work}/staging"
        with tr.span("plans.staging.monitor"):
            t0 = time.perf_counter()
            hwm = high_water_mark(spark, staging)
            write_staging(stage(read_landing(spark, self.landing), hwm=hwm), staging)
            stage_s = time.perf_counter() - t0

        # output checks (untimed)
        files = self.backlog + self.open
        uid_file = {u: f.name for f in files for u in f.uids}
        counts: dict[str, int] = {}
        file_batch: dict[str, int] = {}
        for r in read_landing(spark, self.landing).select("finding_uid", "_batch_id").collect():
            counts[r["finding_uid"]] = counts.get(r["finding_uid"], 0) + 1
            name = uid_file.get(r["finding_uid"])
            if name is not None:
                file_batch[name] = min(file_batch.get(name, r["_batch_id"]), r["_batch_id"])
        quarantined = set(os.listdir(self.failed)) if os.path.isdir(self.failed) else set()
        for f in files:
            if f.kind == "ok":
                out.check(all(counts.get(u) == 1 for u in f.uids), f"{f.name}: not landed exactly once")
            else:
                out.check(
                    f.name in quarantined and not any(u in counts for u in f.uids),
                    f"{f.name} ({f.kind}): not quarantined, or rows landed",
                )
        staged = spark.read.parquet(staging).count()
        out.check(staged == len(counts) == sum(counts.values()), f"staged {staged} of {len(counts)}")

        ok_open = {f.name for f in self.open if f.kind == "ok"}
        lat = list(
            open_loop_latencies(
                {n: t for n, t in scheduled.items() if n in ok_open},
                file_batch,
                {p["batch"]: _commit(p) for p in open_batches},
            ).values()
        )
        out.throughput_per_s = drain_files / drain_s
        p90 = percentile(lat, 90)
        self.named = {
            "monitor_drain_files_per_s": (out.throughput_per_s, "files/s"),
            "monitor_latency_p50_s": (percentile(lat, 50), "s"),
            "monitor_latency_p90_s": (p90, "s"),
            "monitor_stage_s": (stage_s, "s"),
        }
        if not tr.enabled:
            return

        def p50(keys) -> float:
            return percentile([sum(p["durations"].get(k, 0) for k in keys) for p in open_batches], 50)

        trig = [p["durations"]["triggerExecution"] for p in open_batches]
        out.layers.update(
            {
                "streaming.monitor.batches": len(open_batches),
                "streaming.monitor.files_per_batch": median([p["rows"] for p in open_batches]),
                "streaming.monitor.trigger_p50_ms": percentile(trig, 50),
                "streaming.monitor.trigger_p90_ms": percentile(trig, 90),
                "streaming.monitor.add_batch_p50_ms": p50(("addBatch",)),
                "streaming.monitor.list_p50_ms": p50(("latestOffset", "getBatch")),
                "streaming.monitor.planning_p50_ms": p50(("queryPlanning",)),
                "streaming.monitor.commit_p50_ms": p50(("walCommit", "commitOffsets")),
                "streaming.monitor.backlog_end_files": backlog_end,
                "streaming.monitor.generator_late_max_s": max(late),
                "streaming.monitor.quarantined_files": len(quarantined),
                "streaming.monitor.latency_p50_s": percentile(lat, 50),
                "streaming.monitor.latency_p90_s": p90,
                "streaming.monitor.stage_s": stage_s,
                "streaming.monitor.stage_input_files": dir_files(self.landing)[0],
            }
        )


def _write(directory: str, f: gen.OcsfFile) -> None:
    with open(os.path.join(directory, f.name), "w") as fh:
        fh.write(f.text)


def _start(p: dict) -> float:
    return progress_commit_s(p["timestamp"], 0)


def _commit(p: dict) -> float:
    return progress_commit_s(p["timestamp"], p["durations"]["triggerExecution"])


# ---------------------------------------------------------------------------
# analytics_sf0.1
# ---------------------------------------------------------------------------

ANALYTICS_SF = 0.1
# A byte-identical copy of the engine's sf0.1 test tables (deterministic,
# seed 42), checked in so that a run reads only inside its checkout.
ANALYTICS_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
ANALYTICS_MIN_PASSES = 1
# entries oracle-checked per run, rotated by seed: five consecutive seeds
# cover all fifteen (one comparison costs about 2 s, all fifteen about 30 s)
ORACLE_PER_RUN = 3

#: entry name prefix -> the operators module that implements the family
FAMILY = {
    "q1_": "relational", "q3_": "relational", "q5_": "relational",
    "join_": "relational", "agg_": "relational", "window_": "relational",
    "topk_": "relational", "events_": "timeseries", "dedup_": "dedup",
    "knn_": "similarity", "text_": "text", "multimodal_": "multimodal",
}


def family(name: str) -> str:
    for prefix, mod in FAMILY.items():
        if name.startswith(prefix):
            return mod
    raise KeyError(name)


def analytics(ctx: Ctx) -> Outcome:
    """A closed loop over ``bench.CORE15``: each entry to a noop sink, then
    ``clearCache()`` (cold intermediates, warm JVM). The tables are fixed;
    the seed picks which entries the untimed oracle check covers."""
    import __spark_entry__ as entrymod
    import bench

    spark, tr = ctx.spark, ctx.tracer
    out = Outcome(sf=ANALYTICS_SF, cache_state="cache cleared after every entry, warm JVM")
    t_setup = time.perf_counter()
    data = ANALYTICS_DATA
    qs = entrymod.queries()
    entries = bench.CORE15
    entry_walls: dict[str, list[float]] = {}
    build: dict[str, list[float]] = {}
    execs: dict[str, list[float]] = {}
    leaked: list[int] = []

    def one_pass(tag: str, traced: bool) -> float:
        measured = tag.startswith("p")
        with tr.measured(tag) if measured else contextlib.nullcontext():
            t_pass = time.perf_counter()
            for name in entries:
                with tr.span(f"entry.{name}") if traced else contextlib.nullcontext():
                    t0 = time.perf_counter()
                    df = qs[name](spark, data)
                    t1 = time.perf_counter()
                    _noop(df)
                    t2 = time.perf_counter()
                    if traced:
                        leaked.append(spark.sparkContext._jsc.getPersistentRDDs().size())
                    spark.catalog.clearCache()
                if measured:
                    entry_walls.setdefault(name, []).append(t2 - t0)
                if traced:
                    build.setdefault(name, []).append(t1 - t0)
                    execs.setdefault(name, []).append(t2 - t1)
            return time.perf_counter() - t_pass

    out.cold_s = one_pass("cold", False)
    out.setup_s = time.perf_counter() - t_setup
    plain: list[float] = []
    traced: list[float] = []
    _measure_loop(
        ctx.seconds,
        2 * ANALYTICS_MIN_PASSES if tr.enabled else ANALYTICS_MIN_PASSES,
        _alternate(tr, one_pass, plain, traced),
    )
    per_entry = [v for vs in entry_walls.values() for v in vs]
    out.pass_s = median(plain)
    out.samples = plain
    # entries/s of the measured passes: pass_s restated as a rate
    out.throughput_per_s = len(entries) / out.pass_s
    p90 = percentile(per_entry, 90)
    out.named = {
        "analytics_pass_s": (out.pass_s, "s"),
        "analytics_query_p50_s": (percentile(per_entry, 50), "s"),
        "analytics_query_p90_s": (p90, "s"),
    }

    # output checks (untimed): a seeded rotation of entries against their
    # DuckDB oracle, compared the way tools/oracle_check.py does; only these
    # comparisons can fail, so only they count as attempted
    from tools.oracle_check import compare_one, duck_connect

    con = duck_connect(data)
    oracles = entrymod.oracle_sql()
    for k in range(ORACLE_PER_RUN):
        name = entries[(ORACLE_PER_RUN * ctx.seed + k) % len(entries)]
        ok, issues = compare_one(spark, con, name, qs[name], oracles[name], data)
        spark.catalog.clearCache()
        out.check(ok, f"{name}: {issues[:3]}")
    con.close()

    if tr.enabled:
        fam: dict[str, float] = {}
        for name, vs in entry_walls.items():
            fam[family(name)] = fam.get(family(name), 0.0) + median(vs)
        out.layers.update(
            {
                "trace.overhead.pass_s": median(traced) - out.pass_s,
                "entry.plan_build_s": sum(median(build[n]) for n in entries),
                "entry.exec_s": sum(median(execs[n]) for n in entries),
                "entry.leaked_persists": sum(leaked) / len(traced),
                "entry.query_p90_s": p90,
                **{f"operators.{m}.s": v for m, v in fam.items()},
            }
        )
    return out


WORKLOADS = {
    "pipeline": pipeline,
    "analytics_sf0.1": analytics,
}
