"""UUID {low, high} -> canonical string, as a native Spark expression.

The reference stores a 128-bit id as two *little-endian* uint64s and renders
``%x-%x-%x-%x-%x`` over the 16-byte LE concatenation (uuid2str, reference
kafka.go:214-219; its inverse str2uuid is a test helper there,
helper_test.go:17-24, and in tests/test_uuid_codec.py here). Golden vector
(kafka_test.go:542-555):

    {low: 0x7243cc580bc17af4, high: 0x79d4c3b2020e67a5}
        <-> "f47ac10b-58cc-4372-a567-0e02b2c3d479"

Implemented as pure JVM codegen, no UDF: an arithmetic byteswap (7
shift/mask/or steps) turns the little-endian u64 into the big-endian value
whose ``hex()`` rendering IS the byte sequence the reference prints — one
``hex`` call per long instead of 16 substring slices. The 32 hex digits are
rendered once and the four dashes inserted with ``overlay``: Spark does no
common-subexpression elimination inside a ``CASE`` branch, so slicing the
digits five times would render them five times. Small as it is, the
rendering still weighs on the generated code it sits in; routing builds it
only for a templated HttpStartStop topic (``functions/routing.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _byteswap64(col: Column) -> Column:
    """Reverse the byte order of a LongType column (two's-complement safe)."""
    c = col.cast("long")
    return (
        F.shiftleft(c.bitwiseAND(F.lit(0xFF)), 56)
        .bitwiseOR(F.shiftleft(c.bitwiseAND(F.lit(0xFF00)), 40))
        .bitwiseOR(F.shiftleft(c.bitwiseAND(F.lit(0xFF0000)), 24))
        .bitwiseOR(F.shiftleft(c.bitwiseAND(F.lit(0xFF000000)), 8))
        .bitwiseOR(F.shiftrightunsigned(c, 8).bitwiseAND(F.lit(0xFF000000)))
        .bitwiseOR(F.shiftrightunsigned(c, 24).bitwiseAND(F.lit(0xFF0000)))
        .bitwiseOR(F.shiftrightunsigned(c, 40).bitwiseAND(F.lit(0xFF00)))
        .bitwiseOR(F.shiftrightunsigned(c, 56).bitwiseAND(F.lit(0xFF)))
    )


def _le_hex(col: Column) -> Column:
    """16-hex-digit little-endian rendering of a LongType column."""
    return F.lpad(F.lower(F.hex(_byteswap64(col))), 16, "0")


def uuid_to_str(uuid_struct: Column) -> Column:
    """StructType{low,high} -> "8-4-4-4-12" string (kafka.go:214-219).

    Null-safe: null struct (or null low/high) -> null.
    """
    lo = _le_hex(uuid_struct.getField("low"))
    hi = _le_hex(uuid_struct.getField("high"))
    out = F.concat(lo, hi)  # 32 hex chars, little-endian byte order
    for pos in (9, 14, 19, 24):
        out = F.overlay(out, F.lit("-"), pos, 0)
    return out
