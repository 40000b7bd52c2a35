"""Distance expressions — the similarity-search core.

The reference declares a ``@`` distance operator evaluated against a
table's METRIC KEY under a named metric (hamming)
(/root/reference/README.md:26-32,67-78); only the keyword is tokenized
(/root/reference/src/sql/tokenizer.rs:70). We realize the full family as
*native Column expressions* so every distance stays inside whole-stage
codegen — no Python in the hot path. That is the property that lets a
distance-threshold scan or a brute-force top-k run at 100 TB: the metric
is just arithmetic fused into the scan.

All functions take/return ``pyspark.sql.Column``.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def hamming(a: Column | str, b: Column | int) -> Column:
    """popcount(a XOR b) — the reference's flagship metric
    (/root/reference/README.md:58-78: 0b11001111 @ 0b00001011 = 3).

    Works on any integral hash column (the reference stores perceptual
    hashes as UINT8..UINT128; we map them onto Spark integral types,
    SURVEY §1.2)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.lit(b) if isinstance(b, int) else b
    return F.bit_count(a.bitwiseXOR(b))


# The offset identity behind hamming_wide and hamming_wide_sql: for u in
# [0, 2⁶⁴), u − 2⁶³ lies in [−2⁶³, 2⁶³) and so casts to a signed long
# exactly, and its bit pattern is u's with the top bit flipped.
_TWO63 = 2**63
_TWO64 = 2**64


def _offset_long(u: Column) -> Column:
    """u in [0, 2⁶⁴) as the signed long holding its 64 bits, top bit
    flipped: one exact decimal subtract and one cast."""
    return (u - F.lit(Decimal(_TWO63))).cast("long")


def hamming_wide(a: Column | str, b: Column | str, bits: int = 64) -> Column:
    """Hamming distance over the FULL unsigned 64/128-bit range.

    UINT64/UINT128 columns are stored as DECIMAL (types.py) because
    values ≥ 2⁶³ overflow Spark's signed long — a plain ``cast("long")``
    before popcount throws CAST_OVERFLOW on exactly the perceptual-hash
    values the reference's METRIC KEY is for. Instead, for u in
    [0, 2⁶⁴), ``CAST(u − 2⁶³ AS BIGINT)`` never overflows and holds u's
    bits with the top one flipped; the flip cancels in an XOR, so

        bit_count(CAST(a − 2⁶³ AS BIGINT) ^ CAST(b − 2⁶³ AS BIGINT))
            = popcount(a XOR b).

    A row then costs one exact decimal subtract and one cast, fused into
    the scan's codegen like every other metric here.

    bits=64 (UINT64): ``a`` is the METRIC KEY column, in [0, 2⁶⁴) by its
    type. ``b`` is reduced with ``pmod(b, 2⁶⁴)`` first, so an operand
    outside that range (a negative or ≥ 2⁶⁴ literal) compares by its low
    64 bits; for a literal the whole ``b`` side constant-folds.

    bits=128 (UINT128, DECIMAL(38,0)): each operand d splits into two
    64-bit halves, ``lo = pmod(d, 2⁶⁴)`` and the exact quotient
    ``hi = (d − lo) / 2⁶⁴`` (it divides evenly, so the decimal
    division's rounding is a no-op; floor(d / 2⁶⁴) could round across
    an integer boundary). |d| < 10³⁸ < 2¹²⁷, so hi fits a signed long as
    is and lo takes the offset: the distance is popcount over d mod 2¹²⁸,
    the bit pattern of a negative d included. Values beyond
    DECIMAL(38,0) (above ~10³⁸) are the documented BinaryType edge,
    types.py."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    b = b.cast("decimal(38,0)")
    if bits == 64:
        b = F.pmod(b, F.lit(Decimal(_TWO64)))
        return F.bit_count(_offset_long(a).bitwiseXOR(_offset_long(b))).cast("long")

    def halves(d: Column) -> tuple[Column, Column]:
        lo = F.pmod(d, F.lit(Decimal(_TWO64)))
        return ((d - lo) / F.lit(Decimal(_TWO64))).cast("long"), _offset_long(lo)

    (ha, la), (hb, lb) = halves(a.cast("decimal(38,0)")), halves(b)
    return (F.bit_count(ha.bitwiseXOR(hb)) + F.bit_count(la.bitwiseXOR(lb))).cast("long")


def hamming_wide_sql(a: str, b: str) -> str:
    """hamming_wide's UINT128 arithmetic as Spark SQL text over two
    DECIMAL(38,0) expressions: the body of the raw-ANSI ``@`` function
    (engine.py), so both paths compute one formula."""

    def halves(d: str) -> tuple[str, str]:
        lo = f"pmod({d}, {_TWO64})"
        return f"CAST(({d} - {lo}) / {_TWO64} AS BIGINT)", f"CAST({lo} - {_TWO63} AS BIGINT)"

    (ha, la), (hb, lb) = halves(a), halves(b)
    return f"bit_count({ha} ^ {hb}) + bit_count({la} ^ {lb})"


def hamming_binary(a: Column, b: Column, nbytes: int = 16) -> Column:
    """Hamming distance between fixed-width BINARY hash columns — the
    storage type for hashes wider than DECIMAL(38,0) can hold exactly
    (UINT128 max has 39 digits; types.py documents BinaryType as the
    edge's home). Spark has no bitwise ops on binary, so: hex-encode,
    carve 8-hex-char (32-bit) chunks, conv to long, XOR, popcount, sum.
    All codegen string/int ops, fused into the scan like every metric
    here. Inputs shorter than nbytes compare as left-zero-padded (hex
    lpad), matching big-endian integer semantics."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    nchunks = (nbytes + 3) // 4
    ah = F.lpad(F.hex(a), nbytes * 2, "0")
    bh = F.lpad(F.hex(b), nbytes * 2, "0")
    total = None
    for c in range(nchunks):
        xa = F.conv(F.substring(ah, 1 + 8 * c, 8), 16, 10).cast("long")
        xb = F.conv(F.substring(bh, 1 + 8 * c, 8), 16, 10).cast("long")
        term = F.bit_count(xa.bitwiseXOR(xb))
        total = term if total is None else total + term
    return total.cast("long")


def dot(a: Column, b: Column) -> Column:
    """Inner product of two array<float|double> columns.

    zip_with + aggregate stays fully JVM-side (codegen), unlike a Python
    UDF: per-row cost is a tight loop over the arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def l2(a: Column, b: Column) -> Column:
    """Euclidean distance between two array columns."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (|a||b|); NaN-safe via nullif on zero norms."""
    return dot(a, b) / F.nullif(norm2(a) * norm2(b), F.lit(0.0))


def cosine_distance(a: Column, b: Column) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


METRICS = {
    "hamming": hamming,
    "l2": l2,
    "euclidean": l2,
    "cosine": cosine_distance,
    "dot": dot,
}


def resolve(metric: str):
    """Metric registry — mirrors the reference's 'metrics pluggable per
    index' design (/root/reference/README.md:28-32)."""
    try:
        return METRICS[metric.lower()]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; known: {sorted(METRICS)}") from None
