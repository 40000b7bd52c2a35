"""Value generators: ULID() and NOW() — the reference's entire scalar
function surface (/root/reference/src/constructs/functions.rs:10-21).

ULID = 48-bit ms timestamp + 80 random bits, Crockford base32
(README.md:115-117 recommends it as the PK generator). Two paths:
- ``ulid()``: driver-side generation for INSERT ... VALUES row batches
  (small by construction).
- ``ULID_SQL``: distributed generation as Spark SQL text, for a
  SELECT and for bulk backfills (``ulid_expr()``) — pure built-in
  functions (unix_millis + rand), no Python in the loop.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column
from pyspark.sql import functions as F

_CROCKFORD = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
_FROM_CROCKFORD = str.maketrans(_CROCKFORD, "0123456789ABCDEFGHIJKLMNOPQRSTUV")


def _b32(value: int, width: int) -> str:
    out = []
    for _ in range(width):
        out.append(_CROCKFORD[value & 31])
        value >>= 5
    return "".join(reversed(out))


def ulid(ms: int | None = None, entropy: bytes | None = None) -> str:
    """One ULID string (26 chars). ``ms``/``entropy`` injectable for
    deterministic tests."""
    if ms is None:
        ms = time.time_ns() // 1_000_000
    if entropy is None:
        entropy = os.urandom(10)
    rand80 = int.from_bytes(entropy, "big")
    return _b32(ms, 10) + _b32(rand80, 16)


def ulid_ms(value: str) -> int:
    """The ms timestamp a ULID string was made at (its first 10 digits)."""
    return int(value[:10].translate(_FROM_CROCKFORD), 32)


# NOW() as Spark SQL text (functions.rs:19): the current UTC timestamp.
NOW_SQL = "current_timestamp()"


def _b32_sql(x: str, width: int) -> str:
    """SQL text of the non-negative BIGINT ``x`` as ``width`` Crockford
    base32 digits: ``conv`` writes base 32 in 0-9A-V, which
    ``translate`` maps onto the Crockford alphabet."""
    digits = f"lpad(conv({x}, 10, 32), {width}, '0')"
    return f"translate({digits}, '0123456789ABCDEFGHIJKLMNOPQRSTUV', '{_CROCKFORD}')"


# ULID() as Spark SQL text: 10 base32 digits of unix millis, then 16
# from two 40-bit rand() draws. The time prefix keeps ULIDs sortable;
# the entropy is rand()'s (fine for IDs, not for crypto).
_RAND40 = f"CAST(rand() * {1 << 40} AS BIGINT)"
ULID_SQL = (
    f"concat({_b32_sql('unix_millis(current_timestamp())', 10)}, "
    f"{_b32_sql(_RAND40, 8)}, {_b32_sql(_RAND40, 8)})"
)


def ulid_expr() -> Column:
    """Distributed ULID generation as a Column (``ULID_SQL``)."""
    return F.expr(ULID_SQL)
