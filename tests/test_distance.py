"""Known-answer tests for the distance library (mirrors the reference's
README contract, /root/reference/README.md:58-78)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from emdrive_spark.functions import distance as D


def test_hamming_readme_known_answer(spark):
    # README: hash=0b11001111, query=0b00001011 -> distance 3
    df = spark.range(1).select(D.hamming(F.lit(0b11001111), 0b00001011).alias("d"))
    assert df.head()["d"] == 3


def test_hamming_zero(spark):
    df = spark.range(1).select(D.hamming(F.lit(42), 42).alias("d"))
    assert df.head()["d"] == 0


# Edges of the offset identity (u − 2⁶³ as a signed long) and of storage.
_EDGES64 = [0, 1, 2**63 - 1, 2**63, 2**64 - 1]
_EDGES128 = _EDGES64 + [2**64, 2**64 + 1, 10**38 - 1]


def _popcount(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def _wide_frame(spark, pairs, a_type, b_type):
    """Rows (i, a, b) of operand pairs cast from exact decimal strings."""
    return spark.createDataFrame(
        [(i, None if a is None else str(a), None if b is None else str(b)) for i, (a, b) in enumerate(pairs)],
        "i int, a string, b string",
    ).select("i", F.col("a").cast(a_type).alias("a"), F.col("b").cast(b_type).alias("b"))


def test_hamming_wide_matches_python_popcount(spark):
    """Seeded random pairs over the full UINT64 range and the UINT128
    range up to 10³⁸ − 1, every pair of edge values, and NULL operands
    (which give NULL)."""
    rng = random.Random(6)
    for bits, edges, top in ((64, _EDGES64, 2**64), (128, _EDGES128, 10**38)):
        pairs = [(a, b) for a in edges for b in edges]
        pairs += [(rng.randrange(top), rng.randrange(top)) for _ in range(300)]
        pairs += [(rng.randrange(top), e) for e in edges]
        pairs += [(None, 5), (5, None), (None, None)]
        dtype = "decimal(20,0)" if bits == 64 else "decimal(38,0)"  # UINT64 / UINT128 storage
        df = _wide_frame(spark, pairs, dtype, dtype)
        got = {r["i"]: r["d"] for r in df.select("i", D.hamming_wide("a", "b", bits=bits).alias("d")).collect()}
        want = {i: None if None in (a, b) else _popcount(a, b) for i, (a, b) in enumerate(pairs)}
        assert got == want, bits


# Right operands outside [0, 2⁶⁴) against a UINT64 column. The limb-split
# kernel this one replaced compared them by their low 64 bits (its
# answers for these operands were checked equal to this model), and the
# pmod reduction of the non-column operand keeps that.
_OUT_OF_RANGE = [-1, -5, -(2**63), -(2**64) + 3, 2**64, 2**64 + 5, 2**65 + 2**63 + 7, 10**38 - 1]


def test_hamming_wide_out_of_range_operand_is_low_64_bits(spark):
    """The operand as a DECIMAL(38,0) column, so the reduction runs per row."""
    pairs = [(a, b) for a in _EDGES64 + [0xDEADBEEFCAFEBABE] for b in _OUT_OF_RANGE]
    df = _wide_frame(spark, pairs, "decimal(20,0)", "decimal(38,0)")
    got = {r["i"]: r["d"] for r in df.select("i", D.hamming_wide("a", "b").alias("d")).collect()}
    assert got == {i: _popcount(a, b % 2**64) for i, (a, b) in enumerate(pairs)}


def test_at_out_of_range_literal_on_uint64_column(engine):
    """The same operands as dialect literals, where the query side is
    constant-folded."""
    cols = _EDGES64 + [0xDEADBEEFCAFEBABE]
    engine.execute_script(
        "CREATE TABLE wide64 (h UINT64 METRIC KEY USING mtree(hamming), id UINT32 PRIMARY KEY);"
        "INSERT INTO wide64 (h, id) VALUES " + ", ".join(f"({h}, {i})" for i, h in enumerate(cols)) + ";"
    )
    for q in _OUT_OF_RANGE:
        rows = engine.execute(f"SELECT id, h @ {q} AS d FROM wide64").collect()
        assert {r["id"]: r["d"] for r in rows} == {i: _popcount(h, q % 2**64) for i, h in enumerate(cols)}, q


def test_vector_metrics_match_python(spark):
    a = [1.0, 2.0, 3.0]
    b = [-2.0, 0.5, 4.0]
    ca = F.array(*[F.lit(x) for x in a])
    cb = F.array(*[F.lit(x) for x in b])
    row = spark.range(1).select(
        D.dot(ca, cb).alias("dot"),
        D.l2(ca, cb).alias("l2"),
        D.cosine_similarity(ca, cb).alias("cos"),
    ).head()
    exp_dot = sum(x * y for x, y in zip(a, b))
    exp_l2 = math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert abs(row["dot"] - exp_dot) < 1e-12
    assert abs(row["l2"] - exp_l2) < 1e-12
    assert abs(row["cos"] - exp_dot / (na * nb)) < 1e-12


def test_cosine_zero_vector_is_null(spark):
    z = F.array(F.lit(0.0), F.lit(0.0))
    v = F.array(F.lit(1.0), F.lit(2.0))
    assert spark.range(1).select(D.cosine_similarity(z, v).alias("c")).head()["c"] is None


def test_metric_registry():
    assert D.resolve("hamming") is D.hamming
    assert D.resolve("COSINE") is D.cosine_distance
    try:
        D.resolve("nope")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
