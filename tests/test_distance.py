"""Known-answer tests for the distance library (mirrors the reference's
README contract, /root/reference/README.md:58-78)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from emdrive_spark.functions import distance as D
from emdrive_spark.sql.errors import EmdriveValidationError


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


def _at(df, a_storage, b_storage):
    """``a @ b`` over frame columns a and b, through the one `@` generator."""
    return df.select("i", F.expr(D.hamming_sql("a", a_storage, "b", b_storage)).alias("d"))


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
        storage = f"UINT{bits}"
        df = _wide_frame(spark, pairs, dtype, dtype)
        got = {r["i"]: r["d"] for r in _at(df, storage, storage).collect()}
        want = {i: None if None in (a, b) else _popcount(a, b) for i, (a, b) in enumerate(pairs)}
        assert got == want, bits


# Right operands outside [0, 2⁶⁴) against a UINT64 column: each compares
# by its value mod 2¹²⁸, as a UINT128 value does.
_OUT_OF_RANGE = [-1, -5, -(2**63), -(2**64) + 3, 2**64, 2**64 + 5, 2**65 + 2**63 + 7, 10**38 - 1]


def test_hamming_wide_out_of_range_operand_is_mod_2_128(spark):
    """The operand as a DECIMAL(38,0) column, so the reduction runs per row."""
    pairs = [(a, b) for a in _EDGES64 + [0xDEADBEEFCAFEBABE] for b in _OUT_OF_RANGE]
    df = _wide_frame(spark, pairs, "decimal(20,0)", "decimal(38,0)")
    got = {r["i"]: r["d"] for r in _at(df, "UINT64", "UINT128").collect()}
    assert got == {i: _popcount(a, b % 2**128) for i, (a, b) in enumerate(pairs)}


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
        assert {r["id"]: r["d"] for r in rows} == {i: _popcount(h, q % 2**128) for i, h in enumerate(cols)}, q


@pytest.mark.parametrize(
    "htype, values, q",
    [
        ("BINARY", [0, 1, (1 << 127) | 0b1011, 2**128 - 1], -1),
        ("UINT16", [0, 1, 40000, 65535], 2**64 - 1),
        ("UINT8", [0, 7, 255], 2**128 - 1),
    ],
)
def test_at_operand_beyond_the_column_type_is_mod_2_128(engine, htype, values, q):
    """An integer operand outside the column type's range compares by
    its value mod 2¹²⁸ on every storage type, where it used to raise
    (OverflowError for BINARY, CAST_OVERFLOW for the small UINTs)."""
    engine.execute_script(
        f"CREATE TABLE beyond (h {htype} METRIC KEY USING mtree(hamming), id UINT32 PRIMARY KEY);"
        "INSERT INTO beyond (h, id) VALUES " + ", ".join(f"({h}, {i})" for i, h in enumerate(values)) + ";"
    )
    rows = engine.execute(f"SELECT id, h @ {q} AS d FROM beyond").collect()
    assert {r["id"]: r["d"] for r in rows} == {i: _popcount(h, q % 2**128) for i, h in enumerate(values)}


@pytest.mark.parametrize("ddl", ["h UINT64 METRIC KEY USING mtree(foo)", "h VECTOR METRIC KEY USING mtree(l2)"])
def test_at_under_a_metric_other_than_hamming_is_validation_error(engine, ddl):
    """CREATE accepts any metric name, but `@` is defined for hamming
    only: a typed error naming the column and its metric."""
    engine.execute(f"CREATE TABLE other_metric ({ddl}, id UINT32 PRIMARY KEY)")
    with pytest.raises(EmdriveValidationError, match=r"'h' has METRIC KEY metric '(foo|l2)'"):
        engine.execute("SELECT id, h @ 1 AS d FROM other_metric")


# -- BINARY hash columns (the >DECIMAL(38,0) edge) -------------------------


def test_hamming_binary_full_128_bit(engine):
    a = (1 << 127) | 0b1011
    q = (1 << 127) | 0b0001
    engine.execute_script(
        "CREATE TABLE hashes_bin ("
        " h BINARY METRIC KEY USING mtree(hamming),"
        " id UINT32 PRIMARY KEY);"
        f"INSERT INTO hashes_bin (h, id) VALUES ({a}, 1);"
    )
    rows = engine.execute(f"SELECT h @ {q} AS d FROM hashes_bin").collect()
    assert rows[0]["d"] == 2  # bits 3 and 1 differ; bit 127 matches
    rows = engine.execute("SELECT h @ 1 AS d FROM hashes_bin").collect()
    assert rows[0]["d"] == 3  # XOR clears bit 0 → bits 127, 3, 1 remain


def test_hamming_binary_matches_python_popcount(spark):
    pairs = [
        (0, 0),
        ((1 << 128) - 1, 0),
        ((1 << 127) | 12345, 54321),
        ((1 << 100) | 3, (1 << 100) | 1),
    ]
    df = spark.createDataFrame(
        [(i, a.to_bytes(16, "big"), b.to_bytes(16, "big")) for i, (a, b) in enumerate(pairs)],
        "i int, a binary, b binary",
    )
    got = [r["d"] for r in _at(df, "BINARY", "BINARY").collect()]
    want = [bin(a ^ b).count("1") for a, b in pairs]
    assert got == want


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
