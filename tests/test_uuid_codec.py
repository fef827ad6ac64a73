"""UUID codec: golden vectors (kafka_test.go:542-555) + property round-trip."""

import uuid as pyuuid

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_firehose_nozzle_spark.functions.uuid_codec import uuid_to_str

UUID_ROW = T.StructType(
    [
        T.StructField(
            "u",
            T.StructType(
                [
                    T.StructField("low", T.LongType()),
                    T.StructField("high", T.LongType()),
                ]
            ),
        )
    ]
)


def _hex_to_long(hex16: Column) -> Column:
    """16 LE hex chars -> signed long, handling values >= 2^63.

    ``conv(x, 16, 10)`` returns the *unsigned* decimal string; go through
    Decimal(20,0) and wrap negatives to match two's-complement semantics.
    """
    be = F.concat(*[F.substring(hex16, 15 - 2 * i, 2) for i in range(8)])
    unsigned = F.conv(be, 16, 10).cast("decimal(20,0)")
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
    signed = F.when(unsigned >= two63, (unsigned - two64)).otherwise(unsigned)
    return signed.cast("long")


def str_to_uuid_struct(s: Column) -> Column:
    """Inverse of uuid_to_str (reference str2uuid, helper_test.go:17-24)."""
    clean = F.lower(F.regexp_replace(s, "-", ""))
    lo_hex = F.substring(clean, 1, 16)
    hi_hex = F.substring(clean, 17, 16)
    return F.when(
        s.isNotNull(),
        F.struct(
            _hex_to_long(lo_hex).alias("low"),
            _hex_to_long(hi_hex).alias("high"),
        ),
    )


def _signed(v: int) -> int:
    return v - 2**64 if v >= 2**63 else v


def spark_uuid_to_str(spark, low: int, high: int) -> str:
    df = spark.createDataFrame([{"u": {"low": _signed(low), "high": _signed(high)}}], UUID_ROW)
    return df.select(uuid_to_str(F.col("u")).alias("s")).collect()[0].s


def test_golden_vector(spark):
    # kafka_test.go:542-555
    assert (
        spark_uuid_to_str(spark, 0x7243CC580BC17AF4, 0x79D4C3B2020E67A5)
        == "f47ac10b-58cc-4372-a567-0e02b2c3d479"
    )


def test_test_app_id_vector(spark):
    # kafka_test.go:560-563: testAppId mapped through str2uuid
    assert (
        spark_uuid_to_str(spark, 3045678995047011891, 15064251325855190961)
        == "3356a5c7-e86c-442a-b14f-ce5cc4f80ed1"
    )


def test_str_to_uuid_struct(spark):
    df = spark.createDataFrame([("f47ac10b-58cc-4372-a567-0e02b2c3d479",)], ["s"])
    row = df.select(str_to_uuid_struct(F.col("s")).alias("u")).collect()[0].u
    assert row.low == _signed(0x7243CC580BC17AF4)
    assert row.high == _signed(0x79D4C3B2020E67A5)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 2**64 - 1), st.integers(0, 2**64 - 1))
def test_roundtrip_matches_reference_semantics(spark, low, high):
    """uuid_to_str equals the reference's little-endian hex rendering."""
    buf = low.to_bytes(8, "little") + high.to_bytes(8, "little")
    want = "%s-%s-%s-%s-%s" % (
        buf[0:4].hex(), buf[4:6].hex(), buf[6:8].hex(), buf[8:10].hex(), buf[10:16].hex(),
    )
    got = spark_uuid_to_str(spark, low, high)
    assert got == want
    # and str_to_uuid round-trips back
    df = spark.createDataFrame([(got,)], ["s"])
    back = df.select(str_to_uuid_struct(F.col("s")).alias("u")).collect()[0].u
    assert back.low == _signed(low) and back.high == _signed(high)


def test_null_struct_or_half_renders_null(spark):
    """A null struct, or a null low or high, renders NULL, not ''."""
    rows = [{"u": None}, {"u": {"low": None, "high": 1}}, {"u": {"low": 1, "high": None}}]
    df = spark.createDataFrame(rows, UUID_ROW)
    assert [r.s for r in df.select(uuid_to_str(F.col("u")).alias("s")).collect()] == [
        None, None, None
    ]
