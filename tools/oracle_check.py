"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry against its
``oracle_sql()`` DuckDB equivalent on the same parquet tables and compares
row count, column names, and cell values (columns sorted by name, rows
sorted by all columns — order-insensitive, exact equality so a pass here
predicts a value-hash match).

Usage: python tools/oracle_check.py [--hostile] [--ledger PATH] [sf_dir] [query ...]

``--hostile`` simulates the verification driver's session instead of the
engine's defaults: ANSI mode ON, session timezone America/New_York, none of
session.py's engine confs — every query must still match (load_table sets
the confs it needs defensively at runtime).

``--ledger PATH`` also records, per entry, its row count and (for an
entry with an oracle) the sha256 of its sorted :func:`frame_key` rows,
under the session's key (``default`` or ``hostile``) in the JSON file
PATH. Shards of one sweep merge into the same file under a lock, so
``tools/run_oracle_parallel.py ... --ledger PATH`` writes one ledger.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from boann_ocsf_security_data_platform_spark.operators.cache import (  # noqa: E402
    cache_scope,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    # arrays arrive as numpy ndarrays (Arrow fetch) or Python lists
    # (non-Arrow session) — normalize element-wise so both render the same
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def frame_key(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows)


def compare_one(spark, con, name: str, fn, sql: str, sf_dir: str):
    with cache_scope():
        sdf = fn(spark, sf_dir).toPandas()
    return compare_frames(sdf, con.execute(sql).fetchdf())


def compare_frames(sdf: pd.DataFrame, ddf: pd.DataFrame):
    issues = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        issues.append(f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return False, issues
    if len(sdf) != len(ddf):
        issues.append(f"row count differs: spark={len(sdf)} duck={len(ddf)}")
    sk, dk = frame_key(sdf), frame_key(ddf)
    if sk != dk:
        diff_count = sum(1 for a, b in zip(sk, dk) if a != b) + abs(len(sk) - len(dk))
        issues.append(f"values differ ({diff_count} rows); first diffs:")
        shown = 0
        for a, b in zip(sk, dk):
            if a != b and shown < 3:
                issues.append(f"  spark: {a}")
                issues.append(f"  duck : {b}")
                shown += 1
    return not issues, issues


def ledger_row(sdf: pd.DataFrame) -> dict:
    """An oracle entry's ledger record: row count and value hash."""
    h = hashlib.sha256()
    for row in frame_key(sdf):
        h.update(json.dumps(row, ensure_ascii=False).encode())
        h.update(b"\n")
    return {"rows": len(sdf), "sha256": h.hexdigest()}


def write_ledger(path: str, session: str, rows: dict) -> None:
    """Merge ``rows`` (entry -> record) into the ledger at ``path`` under
    ``session``; an exclusive lock lets parallel shards share the file."""
    with open(path, "a+", encoding="utf-8") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        f.seek(0)
        text = f.read()
        ledger = json.loads(text) if text.strip() else {}
        ledger.setdefault(session, {}).update(rows)
        f.seek(0)
        f.truncate()
        f.write(_ledger_text(ledger))


def _ledger_text(ledger: dict) -> str:
    # one line per entry, sorted, so a diff names the entries that moved
    sessions = []
    for session in sorted(ledger):
        entries = ",\n".join(
            f"    {json.dumps(name)}: {json.dumps(rec, sort_keys=True)}"
            for name, rec in sorted(ledger[session].items())
        )
        sessions.append(f"  {json.dumps(session)}: {{\n{entries}\n  }}")
    return "{\n" + ",\n".join(sessions) + "\n}\n"


def main():
    args = sys.argv[1:]
    hostile = "--hostile" in args
    if hostile:
        args.remove("--hostile")
    ledger_path = None
    if "--ledger" in args:
        i = args.index("--ledger")
        ledger_path = args[i + 1]
        del args[i : i + 2]
    shard = None  # "--shard=i/n": keep the crc32 1/n slice (parallel sweeps)
    for a in list(args):
        if a.startswith("--shard="):
            args.remove(a)
            shard = tuple(int(x) for x in a.split("=", 1)[1].split("/"))
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    if hostile:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-check-hostile")
            .master("local[8]")
            .config("spark.sql.ansi.enabled", "true")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from boann_ocsf_security_data_platform_spark import get_spark

        spark = get_spark(app_name="oracle-check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    passed = failed = skipped = 0
    ledger = {}
    import zlib

    for name, fn in qs.items():
        if only and name not in only:
            continue
        if shard and zlib.crc32(name.encode()) % shard[1] != shard[0]:
            continue
        if name not in oracles:
            with cache_scope():
                n = fn(spark, sf_dir).count()
            print(f"  ~ {name}: no oracle (rows-only check), {n} rows")
            ledger[name] = {"rows": n}
            skipped += 1
            continue
        try:
            with cache_scope():
                sdf = fn(spark, sf_dir).toPandas()
            ok, issues = compare_frames(sdf, con.execute(oracles[name]).fetchdf())
            ledger[name] = ledger_row(sdf)
        except Exception as e:
            ok, issues = False, [f"EXCEPTION: {type(e).__name__}: {e}"]
        if ok:
            print(f"  ✓ {name}")
            passed += 1
        else:
            print(f"  ✗ {name}")
            for i in issues[:8]:
                print(f"      {i}")
            failed += 1
    if ledger_path:
        write_ledger(ledger_path, "hostile" if hostile else "default", ledger)
    print(f"\n{passed} matched, {failed} failed, {skipped} rows-only @ {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
