"""Distance expressions — the similarity-search core.

The reference declares a ``@`` distance operator evaluated against a
table's METRIC KEY under a named metric (hamming)
(reference README.md:26-32,67-78); only the keyword is tokenized
(reference src/sql/tokenizer.rs:70). Every distance here is a
native Spark expression, so it stays inside whole-stage codegen — no
Python in the hot path. That is the property that lets a
distance-threshold scan or a brute-force top-k run at 100 TB: the metric
is just arithmetic fused into the scan.

``@`` is one SQL-text generator, ``hamming_sql``, per storage type of
its operands: the dialect compiles a SELECT into one Spark SQL text
around it, and the raw-ANSI ``emdrive_hamming`` function (engine.py) is
its body, so both compute one formula. The batch operators use the
Column builders below (``hamming``, ``l2``, ``dot``, ``cosine_*``).
"""

from __future__ import annotations

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


# The offset identity: for u in [0, 2⁶⁴), u − 2⁶³ lies in [−2⁶³, 2⁶³)
# and so casts to a signed long exactly, and its bit pattern is u's with
# the top bit flipped.
_TWO63 = 2**63
_TWO64 = 2**64
_TWO128 = 2**128
_SMALL = ("UINT8", "UINT16", "UINT32")


def _long(u: int) -> str:
    """u in [0, 2⁶⁴) as the signed-long SQL literal holding its bits."""
    return str(u - _TWO64 if u >= _TWO63 else u)


def _halves(x: str, storage: str) -> tuple[str | None, str, int]:
    """SQL text of the two 64-bit halves of ``x``, a value of a
    ``storage`` column, each as a signed long: ``(hi, lo, flip)``, hi
    None for a type whose values are below 2⁶⁴, and ``flip`` the bits
    ``lo`` holds flipped.

    - UINT8–32: the value itself.
    - UINT64 (DECIMAL(20,0)): ``CAST(x − 2⁶³ AS BIGINT)``, which never
      overflows, with the top bit flipped — one exact subtract and one
      cast per row.
    - BINARY: the first 16 bytes as 32 hex digits, left-zero-padded (a
      shorter value compares as the big-endian integer it holds), each
      half of 16 digits read as a signed long by ``conv``.
    - any other value, as DECIMAL(38,0): ``lo = pmod(d, 2⁶⁴)`` and the
      exact quotient ``hi = (d − lo) / 2⁶⁴`` (it divides evenly, so the
      decimal division's rounding is a no-op). |d| < 10³⁸ < 2¹²⁷, so hi
      fits a signed long as is and lo takes the offset: the halves of d
      mod 2¹²⁸, the bit pattern of a negative d included."""
    if storage in _SMALL:
        return None, f"CAST({x} AS BIGINT)", 0
    if storage == "UINT64":
        return None, f"CAST({x} - {_TWO63} AS BIGINT)", _TWO63
    if storage == "BINARY":
        digits = f"lpad(hex({x}), 32, '0')"
        return (
            f"CAST(conv(substr({digits}, 1, 16), 16, -10) AS BIGINT)",
            f"CAST(conv(substr({digits}, 17, 16), 16, -10) AS BIGINT)",
            0,
        )
    d = f"CAST({x} AS DECIMAL(38,0))"
    lo = f"pmod({d}, {_TWO64})"
    return f"CAST(({d} - {lo}) / {_TWO64} AS BIGINT)", f"CAST({lo} - {_TWO63} AS BIGINT)", _TWO63


def hamming_sql(a: str, a_storage: str, b: str | int, b_storage: str = "DECIMAL") -> str:
    """Spark SQL text of ``a @ b``: the popcount of a XOR b over 128
    bits, as a BIGINT. ``a`` is SQL text of a ``a_storage`` value (an
    emdrive type name, see ``_halves``); ``b`` is SQL text of a
    ``b_storage`` value or a Python int. Both compare by their value mod
    2¹²⁸.

    An int ``b`` is reduced here and folds into constants, so over a
    UINT64 column the distance is one ``bit_count(CAST(a − 2⁶³ AS
    BIGINT) ^ c)`` (plus the constant popcount of b's high half when
    that is not 0)."""
    a_hi, a_lo, a_flip = _halves(a, a_storage)
    if isinstance(b, int):
        q = b % _TWO128
        lo = f"bit_count({a_lo} ^ {_long((q % _TWO64) ^ a_flip)})"
        if a_hi is not None:
            hi = f"bit_count({a_hi} ^ {_long(q // _TWO64)})"
        else:
            hi = str(bin(q // _TWO64).count("1")) if q >= _TWO64 else None
    else:
        b_hi, b_lo, b_flip = _halves(b, b_storage)
        flip = a_flip ^ b_flip
        lo = f"bit_count({a_lo} ^ {b_lo}{f' ^ {_long(flip)}' if flip else ''})"
        his = [h for h in (a_hi, b_hi) if h is not None]
        hi = f"bit_count({' ^ '.join(his)})" if his else None
    return f"CAST({lo}{f' + {hi}' if hi else ''} AS BIGINT)"


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
