"""Engine-portable hash expressions for oracle-checkable dedup paths.

The production dedup operators hash shingles/tokens with Spark's
``xxhash64`` (JVM-side, fastest). That family cannot be replayed by DuckDB,
so the driver-graded queries were rows-only checks. Equality-only use makes
the hash family free (SURVEY.md §1.3 — MinHash/SimHash/LSH only ever
compare hash values for equality/order, never invert them), so the graded
variants swap in an md5-prefix family both engines compute bit-identically:

- ``portable_hash60``: first 60 bits of md5 as a non-negative long.
  DuckDB replay: ``('0x' || substr(md5(s), 1, 15))::BIGINT``.
- ``portable_hash64``: all 64 bits of the first 16 md5 hex chars as a
  signed long (two's complement).
  DuckDB replay: ``hi::HUGEINT * 4294967296 + lo`` then signed-convert,
  with ``hi = ('0x'||substr(md5(s),1,8))::BIGINT`` etc.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(col: Column) -> Column:
    """First 15 hex chars (60 bits) of md5 as a non-negative long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash64(col: Column) -> Column:
    """First 16 hex chars (64 bits) of md5 as a signed long.

    Built from two 32-bit halves because a single conv of 16 hex chars
    renders the *unsigned* decimal, which overflows the string->long cast
    for values >= 2^63. ``shiftleft(hi, 32)`` wraps in two's complement,
    matching DuckDB's ``hi*2^32 + lo`` mod-2^64 signed reinterpretation.
    """
    hi = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# DuckDB SQL fragment mirroring portable_hash60 ({s} = string expression).
DUCKDB_HASH60 = "(('0x' || substr(md5({s}), 1, 15))::BIGINT)"
