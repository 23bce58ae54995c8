"""Test-table catalog: the driver's synthetic TPC-H-ish parquet tables.

(`/root/repo/TESTDATA.md`: region nation customer supplier part orders
lineitem events documents embeddings, one parquet file each per scale
factor.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from ..session import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as Parquet TIMESTAMP(NANOS), which Spark surfaces as long
# nanoseconds under spark.sql.legacy.parquet.nanosAsLong (set by session.py).
_NANO_TS_COLUMNS = {"events": ("ts",)}


# Confs that change the schema Parquet inference returns for the same file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def table_identity(sf_dir: str, name: str) -> tuple | None:
    """(path, ((file, size, mtime_ns), ...)) of a table's data files — a
    file or a directory tree; Spark's hidden ``_``/``.`` entries are
    skipped. It changes whenever the table is rewritten, so memo entries
    keyed on it (the schema here, row counts in the entry module) are
    rebuilt. None when the path cannot be stat'ed locally (another URI
    scheme)."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return path, ((path, st.st_size, st.st_mtime_ns),)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for n in sorted(names):
                if not n.startswith(("_", ".")):
                    st = os.stat(os.path.join(root, n))
                    files.append((os.path.join(root, n), st.st_size, st.st_mtime_ns))
        return path, tuple(files)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive runtime confs for caller-provided sessions (e.g. the
    # verification driver's): timestamps must render in UTC to agree with
    # the naive parquet values DuckDB sees, and nanos columns need the
    # legacy long read. Both are runtime-settable.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # see session.py: the inferred size(arr)>0 filter under explode
        # serializes computed-array explodes onto the raw split count
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        if name in _NANO_TS_COLUMNS:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = f"{sf_dir}/{name}.parquet"
    identity = table_identity(sf_dir, name)
    if identity is None:
        df = spark.read.parquet(path)
    else:
        # Schema inference is a Spark job per read; the schema of unchanged
        # files under unchanged inference confs is inferred once.
        key = (
            "sources.catalog.schema",
            identity,
            *[spark.conf.get(c) for c in _INFERENCE_CONFS],
        )
        schema = session_memo(spark, key, lambda: spark.read.parquet(path).schema)
        df = spark.read.schema(schema).parquet(path)
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            # ns → µs truncation, identical to DuckDB's read of the file
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # The driver regenerates testdata between rounds and the timestamp
    # flavor drifts with it: TIMESTAMP(MICROS, isAdjustedToUTC=false) reads
    # as TIMESTAMP_NTZ (under inferTimestampNTZ), tz-adjusted files and the
    # nanos fallback above read as TIMESTAMP(LTZ). Normalize every
    # timestamp column to NTZ here — under the UTC session forced above the
    # cast is value-preserving, every downstream query sees ONE type, and
    # results render naive exactly like DuckDB's read of the same file.
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` can query them."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
