"""Parquet table loaders for the driver's synthetic star schema.

Mirrors the reference's notion of a data directory holding one file tree
per table (/root/reference/src/storage/filesystem.rs:11-15) — here each
table is a Parquet file under an ``sf`` directory. Spark's vectorized
Parquet reader + Catalyst pushdown replace the reference's page-level
random I/O (/root/reference/src/storage/filesystem.rs:41-67).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Full table scan (reference: read meta page -> walk B+tree leaves,
    /root/reference/src/executor/read.rs:7-31). Here: a Parquet scan that
    Catalyst can prune by column and filter pushdown."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Fixture generations have stored ts two ways: TIMESTAMP(MICROS)
        # (reads as timestamp/timestamp_ntz — leave as-is; NTZ naive µs
        # matches DuckDB's TIMESTAMP exactly, independent of session TZ)
        # and TIMESTAMP(NANOS) surfaced as nanos-since-epoch long under
        # spark.sql.legacy.parquet.nanosAsLong (truncate to µs, the same
        # truncation DuckDB applies). Branch on the landed dtype so any
        # session — ours or the correctness driver's — gets µs timestamps.
        if df.schema["ts"].dataType.typeName() in ("long", "bigint"):
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


_STAGING_CLEANUP_REGISTERED: set[str] = set()


def staging_dir(spark: SparkSession, *parts: str) -> str:
    """Per-session scratch path for sink / round-trip ops. Keyed on the
    Spark applicationId so two concurrent gate/bench invocations (each
    its own SparkSession) never overwrite each other's staged files
    mid-read — a fixed world-readable path under /tmp did exactly that
    (r3 advisor). The session root is removed at interpreter exit so
    repeated runs don't accrete staged trees under /tmp (r4 review).
    Local-mode scratch only: the 100 TB deployments these ops document
    would stage to a per-job object-store prefix instead."""
    import atexit
    import shutil
    import tempfile

    app_id = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"emdrive_stage_{app_id}")
    if root not in _STAGING_CLEANUP_REGISTERED:
        _STAGING_CLEANUP_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, True)
    return os.path.join(root, *parts)
