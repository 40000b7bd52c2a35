"""SparkSession factory for the emdrive-spark engine.

The reference engine runs a single-process async executor with a bounded
request channel (/root/reference/src/executor/mod.rs:19,58-62). Our unit of
execution is a SparkSession instead; this module centralizes the configs
that matter for correctness (UTC session timezone so timestamps compare
bit-for-bit against the DuckDB oracle) and for scale (AQE, partition
sizing, Arrow-batched Python interop).

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned static shuffle count on a real cluster.
- ``spark.sql.shuffle.partitions`` here is a *local* default; on a cluster
  AQE's coalescing makes the initial number mostly an upper bound.
- Arrow enabled: every pandas_udf / applyInPandas / toPandas crosses the
  JVM<->Python boundary in columnar batches, not rows.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_DEFAULT_APP = "emdrive-spark"


def _default_driver_mem() -> str:
    """Host-derived driver heap (r12 verdict item 2): the old hard
    '48g' default assumed the builder's 128 GiB host. On the driver's
    (smaller or co-tenant) host a JVM growing toward 48 GiB plus 32
    resident Python workers plausibly tripped the kernel OOM killer —
    BENCH_r12's tail shows every task of one mapInPandas stage dying
    with 'Python worker exited unexpectedly (crashed)', the classic
    off-heap/OOM-kill signature (guide §7.4). Derive the heap from
    MemAvailable at session build: half of what the host can actually
    give, clamped to [4g, 48g]. On a 128 GiB host this still resolves
    to 48g, so local bench numbers stay comparable; set
    $SPARK_GRAFT_DRIVER_MEM to pin it explicitly."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    break
            else:
                return "48g"
    except OSError:
        return "48g"
    return f"{min(48, max(4, avail_gb // 2))}g"


def get_spark(app_name: str = _DEFAULT_APP, extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so the driver's
    bench harness controls core count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Correctness: DuckDB timestamps are UTC-naive; pin Spark to UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Scale: adaptive execution re-plans shuffles/joins at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local default ≈ cores; AQE coalesces below this when data is small.
        .config("spark.sql.shuffle.partitions", "32")
        # Arrow for all Python<->JVM batch transfer (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Older events fixtures stored TIMESTAMP(NANOS); under this conf
        # those read as ns-since-epoch longs that sources.tables converts
        # to µs. Current fixtures store µs natively → conf is a no-op,
        # and load() branches on the landed dtype either way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Managed tables (bucketed sinks) land in tmp, not the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "emdrive_warehouse"),
        )
        # Whole-stage-codegen class cache (STATIC conf): the default
        # 100 entries thrash under a session running a large query
        # fleet — this engine's registry alone compiles ~20 generated
        # classes per complex query, so any rotation of more than a
        # handful of queries evicts everything between a query's runs
        # and re-pays Janino compilation every time. Measured (r8,
        # 6-query cold rotation at sf0.1; SCALING.md): total 31.5 s at
        # 100 entries vs 21.3 s at a large cache — a 32% session-level
        # win with identical plans. 2000 entries bounds the cache well
        # above the fleet's working set at single-digit-MB-per-class
        # worst-case cost; long-running production sessions (the 100 TB
        # deployment shape) want exactly this. A measurement overrides
        # this or any static conf through get_spark(extra_conf=...).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Shuffle/spill compression codec lz4: an r12 interleaved
        # fresh-JVM A/B (OPTIMIZATION_r12.md, "Not yet optimized")
        # measured zstd 15-35% slower on the shuffle-heaviest ops at
        # sf0.1 (cleanest sample: graph_triangle_count 7.18 s vs the
        # quiet lz4 record 5.32; graph_related_topk 8.06 vs 5.92) — on
        # local[32] every shuffle byte moves through page cache, so
        # zstd's better ratio buys no transfer time and its extra CPU
        # is pure cost. On a real cluster shuffle crosses the NIC and
        # the ratio can win (guide §2.3: "no universal answer —
        # measure"); measure there with extra_conf.
        .config("spark.io.compression.codec", "lz4")
        # Keep the UI off in headless runs.
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # Python-worker crash diagnostics (r12 verdict item 2): the
        # driver's 32-core r12 bench lost a whole mapInPandas stage to
        # 'Python worker exited unexpectedly (crashed)' with no
        # traceback. These two confs make any future worker death dump
        # a faulthandler stack into the error instead — the cost is one
        # signal-handler registration per worker (guide §7.4 names this
        # exact signature and remedy).
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.python.worker.faulthandler.enabled", "true")
        # Belt-and-braces byte bound on Arrow batches (Spark 4 knob,
        # guide §4.2): maxRecordsPerBatch bounds ROWS, not BYTES — a
        # wide/binary row family can still build an arbitrarily large
        # batch. 64 MiB caps the per-batch footprint of every Python
        # stage without changing any current op's batching (this
        # engine's Python-stage rows are all <= a few hundred bytes, so
        # the 10k-record cap binds first on every current op).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        # Broadcast block size (STATIC conf): TorrentBroadcast.blockifyObject
        # allocates one heap chunk of this size per broadcast, and every
        # stage broadcasts its task binary. At the 4m default that chunk
        # is a G1 humongous object (over half a region; regions are 1 MB
        # on the small heaps a server runs with), reclaimed only at the
        # next young GC, so the driver heap the JVM touches, and its RSS,
        # grew with stages per second: a durable ingest loop at ten
        # INSERTs a second read peak RSS +23-27%. 256k stays below the
        # humongous threshold (half a region, at least 512 KiB) at every
        # heap size.
        .config("spark.broadcast.blockSize", "256k")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
