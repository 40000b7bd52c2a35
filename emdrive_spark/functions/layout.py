"""Partition-layout helpers for high-amplification projections.

``spread()`` exists for one specific plan shape: a NARROW scan feeding a
projection whose per-row cost is 10-100× the scan cost (shingle explode,
8-lane minhash signatures, per-character rolling hashes). Spark
parallelizes a scan by input split, and everything up to the first
exchange runs at scan parallelism — so when the source has few splits
(one row group per file in the local fixtures; a handful of giant
objects in a badly-bucketed lake), the expensive projection serializes
onto a few cores while the rest of the cluster idles.

The fix is to shuffle the *compact* input once, before amplification:
the payload moved is the raw (id, text) bytes — the cheapest this data
will ever be — and it buys full-cluster parallelism for the dominant
CPU stage. At 100 TB with healthy splits the same repartition is a
near-no-op rebalance of already-distributed rows; the cost stays
proportional to input bytes while the benefit stays proportional to the
amplification factor, which is why it is safe to leave in
unconditionally. (AQE's REBALANCE hint is the wrong tool here: it
targets an output *size*, and a small-byte/high-CPU input coalesces to
one partition — the exact pathology this helper removes.)
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emdrive_spark.functions.ckpt import ckpt


def pin(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-partition ``df`` on ``cols`` and persist it — the
    ITERATIVE-LOOP layout pin. ``ckpt``'s localCheckpoint materializes
    to UnknownPartitioning(0) (the blocks hold hash-clustered rows but
    the planner cannot see it — plans/r12/graph_hits_round_join_after
    .txt's Scan ExistingRDD), so every round of a loop re-exchanges
    the big topology frame. ``persist`` instead caches through
    InMemoryRelation, which REPORTS the child's hashpartitioning:
    each round's equality join on ``cols`` then reuses the cached
    layout with zero exchange on this side, and only the |V|-sized
    state frame moves per round — the Pregel contract ("topology
    stays put, vertex state moves") made real.

    MEMORY_AND_DISK: spills gracefully instead of evicting, and stays
    recomputable from lineage (unlike a localCheckpoint, a lost block
    degrades to recompute — strictly safer under preemption). This is
    a layout pin, NOT a cross-run cache: ``release()`` between
    reps/queries drops both the blocks and the cache registration, so
    every bench rep recomputes from the parquet inputs."""
    if not cols:
        return ckpt(df)
    n = df.sparkSession.sparkContext.defaultParallelism
    out = df.repartition(n, *[F.col(c) for c in cols]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Materialize NOW (one job, the same eager shape ckpt had): an
    # InMemoryRelation over a still-adaptive plan reports
    # UnknownPartitioning until the plan finalizes, so consumers
    # planned before the first action would re-exchange this side
    # anyway (measured: the round-1 vote join carried an extra |E|
    # Exchange when the pin was lazy). After the count the cached
    # plan is final and every consumer sees the hashpartitioning.
    out.count()
    return out


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` across every core in the cluster
    (``defaultParallelism``), optionally keyed on ``cols`` so a
    downstream key-shuffle can reuse the layout. Call it on the narrow
    pre-amplification frame, never on exploded/widened data."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if cols:
        return df.repartition(n, *[F.col(c) for c in cols])
    return df.repartition(n)
