"""Byte-exact sonde-go JSON encoder as a single ``to_json`` expression.

The reference serializes envelopes with easyjson (encoder.go:15-27); golden
tests pin the exact bytes (kafka_test.go:557-603, encoder_test.go:13-33).
Format properties and how each is reproduced JVM-side:

- key order = proto field order (events_easyjson.go:1061-1241)
    -> ENVELOPE_SCHEMA field order + an ordered struct() projection
- omit-nil-pointer fields ("omitempty" on all fields)
    -> to_json drops NULL fields (spark.sql.jsonGenerator.ignoreNullFields,
       default true); empty tags map is nulled explicitly
       (len(tags)!=0 gate, events_easyjson.go:1148)
- enums as ints (eventType, message_type, peerType, method)
    -> stored IntegerType
- bytes as base64 (logMessage.message)
    -> BinaryType renders base64 in to_json
- uint64 rendered unsigned even above 2^63 (uuid low/high, counters,
  container memory/disk)
    -> re-widen LongType to Decimal(20,0) adding 2^64 to negatives;
       to_json prints scale-0 decimals as bare integers

Known fidelity caveat (documented, not triggered by the goldens): Go prints
integral float64 as "42" while Jackson prints "42.0". Reference golden
values (0.99) are non-integral.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TWO64 = Decimal(2) ** 64


def _unsigned(col: Column) -> Column:
    """LongType carrying a uint64 -> Decimal(20,0) with unsigned value."""
    dec = col.cast("decimal(20,0)")
    return F.when(col < 0, (dec + F.lit(_TWO64).cast("decimal(21,0)")).cast("decimal(20,0)")).otherwise(dec)


def _uuid_json(u: Column) -> Column:
    """UUID{low,high} struct with unsigned rendering (uuid.pb.go:23-27)."""
    return F.when(
        u.isNotNull(),
        F.struct(
            _unsigned(u.getField("low")).alias("low"),
            _unsigned(u.getField("high")).alias("high"),
        ),
    )


def _http_json(h: Column) -> Column:
    return F.when(
        h.isNotNull(),
        F.struct(
            h.getField("startTimestamp").alias("startTimestamp"),
            h.getField("stopTimestamp").alias("stopTimestamp"),
            _uuid_json(h.getField("requestId")).alias("requestId"),
            h.getField("peerType").alias("peerType"),
            h.getField("method").alias("method"),
            h.getField("uri").alias("uri"),
            h.getField("remoteAddress").alias("remoteAddress"),
            h.getField("userAgent").alias("userAgent"),
            h.getField("statusCode").alias("statusCode"),
            h.getField("contentLength").alias("contentLength"),
            _uuid_json(h.getField("applicationId")).alias("applicationId"),
            h.getField("instanceIndex").alias("instanceIndex"),
            h.getField("instanceId").alias("instanceId"),
            h.getField("forwarded").alias("forwarded"),
        ),
    )


def _counter_json(c: Column) -> Column:
    return F.when(
        c.isNotNull(),
        F.struct(
            c.getField("name").alias("name"),
            _unsigned(c.getField("delta")).alias("delta"),
            _unsigned(c.getField("total")).alias("total"),
        ),
    )


def _container_json(c: Column) -> Column:
    return F.when(
        c.isNotNull(),
        F.struct(
            c.getField("applicationId").alias("applicationId"),
            c.getField("instanceIndex").alias("instanceIndex"),
            c.getField("cpuPercentage").alias("cpuPercentage"),
            _unsigned(c.getField("memoryBytes")).alias("memoryBytes"),
            _unsigned(c.getField("diskBytes")).alias("diskBytes"),
            _unsigned(c.getField("memoryBytesQuota")).alias("memoryBytesQuota"),
            _unsigned(c.getField("diskBytesQuota")).alias("diskBytesQuota"),
        ),
    )


def sonde_envelope_struct(df: DataFrame) -> Column:
    """Ordered struct matching easyjson's Envelope marshal order
    (events_easyjson.go:1061-1241); NULL fields are omitted by to_json."""
    tags = df["tags"]
    return F.struct(
        df["origin"].alias("origin"),
        df["eventType"].alias("eventType"),
        df["timestamp"].alias("timestamp"),
        df["deployment"].alias("deployment"),
        df["job"].alias("job"),
        df["index"].alias("index"),
        df["ip"].alias("ip"),
        F.when(F.size(tags) > 0, tags).alias("tags"),
        _http_json(df["httpStartStop"]).alias("httpStartStop"),
        df["logMessage"].alias("logMessage"),
        df["valueMetric"].alias("valueMetric"),
        _counter_json(df["counterEvent"]).alias("counterEvent"),
        df["error"].alias("error"),
        _container_json(df["containerMetric"]).alias("containerMetric"),
    )


def sonde_json(df: DataFrame) -> Column:
    """Envelope row -> sonde-go JSON string (S2; encoder.go:15-18).

    One codegen'd projection; whole-stage compatible; no Python on the
    hot path (the reference benchmarked three Go encoders for exactly this
    reason, encoder_test.go:41-67).
    """
    return F.to_json(sonde_envelope_struct(df))


# --- decoder: sonde-go JSON -> Envelope rows (inverse of S2) ----------------
#
# The reference only ever *produces* this JSON; the engine also consumes it
# so that sonde-JSON files/Kafka topics are a first-class replayable source
# (SURVEY.md §2.1 SRC1 test harness, §7 step 6). from_json is JVM-side.


def _decode_read_schema():
    """ENVELOPE_SCHEMA variant matching the wire JSON: base64 ``message``
    as string, unsigned u64 renderings as Decimal(20,0)."""
    from pyspark.sql import types as T

    u64 = T.DecimalType(20, 0)
    uuid = T.StructType(
        [T.StructField("low", u64, True), T.StructField("high", u64, True)]
    )
    http = T.StructType(
        [
            T.StructField("startTimestamp", T.LongType(), True),
            T.StructField("stopTimestamp", T.LongType(), True),
            T.StructField("requestId", uuid, True),
            T.StructField("peerType", T.IntegerType(), True),
            T.StructField("method", T.IntegerType(), True),
            T.StructField("uri", T.StringType(), True),
            T.StructField("remoteAddress", T.StringType(), True),
            T.StructField("userAgent", T.StringType(), True),
            T.StructField("statusCode", T.IntegerType(), True),
            T.StructField("contentLength", T.LongType(), True),
            T.StructField("applicationId", uuid, True),
            T.StructField("instanceIndex", T.IntegerType(), True),
            T.StructField("instanceId", T.StringType(), True),
            T.StructField("forwarded", T.ArrayType(T.StringType()), True),
        ]
    )
    log = T.StructType(
        [
            T.StructField("message", T.StringType(), True),  # base64 text
            T.StructField("message_type", T.IntegerType(), True),
            T.StructField("timestamp", T.LongType(), True),
            T.StructField("app_id", T.StringType(), True),
            T.StructField("source_type", T.StringType(), True),
            T.StructField("source_instance", T.StringType(), True),
        ]
    )
    counter = T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("delta", u64, True),
            T.StructField("total", u64, True),
        ]
    )
    container = T.StructType(
        [
            T.StructField("applicationId", T.StringType(), True),
            T.StructField("instanceIndex", T.IntegerType(), True),
            T.StructField("cpuPercentage", T.DoubleType(), True),
            T.StructField("memoryBytes", u64, True),
            T.StructField("diskBytes", u64, True),
            T.StructField("memoryBytesQuota", u64, True),
            T.StructField("diskBytesQuota", u64, True),
        ]
    )
    from kafka_firehose_nozzle_spark import schemas

    return T.StructType(
        [
            T.StructField("origin", T.StringType(), True),
            T.StructField("eventType", T.IntegerType(), True),
            T.StructField("timestamp", T.LongType(), True),
            T.StructField("deployment", T.StringType(), True),
            T.StructField("job", T.StringType(), True),
            T.StructField("index", T.StringType(), True),
            T.StructField("ip", T.StringType(), True),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("httpStartStop", http, True),
            T.StructField("logMessage", log, True),
            T.StructField("valueMetric", schemas.VALUE_METRIC_SCHEMA, True),
            T.StructField("counterEvent", counter, True),
            T.StructField("error", schemas.ERROR_SCHEMA, True),
            T.StructField("containerMetric", container, True),
        ]
    )


_MAX_I64 = Decimal(2) ** 63 - 1


def _signed(dec: Column) -> Column:
    """Decimal(20,0) carrying a uint64 wire value -> LongType (two's-
    complement wrap; inverse of ``_unsigned``)."""
    return (
        F.when(dec > F.lit(_MAX_I64).cast("decimal(20,0)"), dec - F.lit(_TWO64).cast("decimal(21,0)"))
        .otherwise(dec)
        .cast("long")
    )


def _signed_uuid(u: Column) -> Column:
    return F.when(
        u.isNotNull(),
        F.struct(
            _signed(u.getField("low")).alias("low"),
            _signed(u.getField("high")).alias("high"),
        ),
    )


def _envelope_columns(e: Column) -> list[Column]:
    """Parsed wire struct -> the 14 Envelope columns (ENVELOPE_SCHEMA).

    ``e`` MUST be a plain column reference (not the from_json expression
    itself): these builders reference it ~40 times, and inlining a
    non-cheap parse at each reference blows the expression tree up —
    ``envelopes_from_json`` materializes the parse behind a projection
    barrier first. Emitting flat columns (rather than one giant struct
    expanded via ``.*``) keeps each projection expression small so
    downstream projections (routing) collapse cleanly.
    """
    http, log, cnt, ctr = (
        e.getField("httpStartStop"),
        e.getField("logMessage"),
        e.getField("counterEvent"),
        e.getField("containerMetric"),
    )
    return [
        e.getField("origin").alias("origin"),
        e.getField("eventType").alias("eventType"),
        e.getField("timestamp").alias("timestamp"),
        e.getField("deployment").alias("deployment"),
        e.getField("job").alias("job"),
        e.getField("index").alias("index"),
        e.getField("ip").alias("ip"),
        e.getField("tags").alias("tags"),
        F.when(
            http.isNotNull(),
            F.struct(
                http.getField("startTimestamp").alias("startTimestamp"),
                http.getField("stopTimestamp").alias("stopTimestamp"),
                _signed_uuid(http.getField("requestId")).alias("requestId"),
                http.getField("peerType").alias("peerType"),
                http.getField("method").alias("method"),
                http.getField("uri").alias("uri"),
                http.getField("remoteAddress").alias("remoteAddress"),
                http.getField("userAgent").alias("userAgent"),
                http.getField("statusCode").alias("statusCode"),
                http.getField("contentLength").alias("contentLength"),
                _signed_uuid(http.getField("applicationId")).alias("applicationId"),
                http.getField("instanceIndex").alias("instanceIndex"),
                http.getField("instanceId").alias("instanceId"),
                http.getField("forwarded").alias("forwarded"),
            ),
        ).alias("httpStartStop"),
        F.when(
            log.isNotNull(),
            F.struct(
                F.unbase64(log.getField("message")).alias("message"),
                log.getField("message_type").alias("message_type"),
                log.getField("timestamp").alias("timestamp"),
                log.getField("app_id").alias("app_id"),
                log.getField("source_type").alias("source_type"),
                log.getField("source_instance").alias("source_instance"),
            ),
        ).alias("logMessage"),
        e.getField("valueMetric").alias("valueMetric"),
        F.when(
            cnt.isNotNull(),
            F.struct(
                cnt.getField("name").alias("name"),
                _signed(cnt.getField("delta")).alias("delta"),
                _signed(cnt.getField("total")).alias("total"),
            ),
        ).alias("counterEvent"),
        e.getField("error").alias("error"),
        F.when(
            ctr.isNotNull(),
            F.struct(
                ctr.getField("applicationId").alias("applicationId"),
                ctr.getField("instanceIndex").alias("instanceIndex"),
                ctr.getField("cpuPercentage").alias("cpuPercentage"),
                _signed(ctr.getField("memoryBytes")).alias("memoryBytes"),
                _signed(ctr.getField("diskBytes")).alias("diskBytes"),
                _signed(ctr.getField("memoryBytesQuota")).alias("memoryBytesQuota"),
                _signed(ctr.getField("diskBytesQuota")).alias("diskBytesQuota"),
            ),
        ).alias("containerMetric"),
    ]


def envelopes_from_json(df: DataFrame, col: str = "value") -> DataFrame:
    """DataFrame with a sonde-JSON string column -> Envelope-schema rows.

    Makes sonde-JSON files / Kafka topics a replayable envelope source
    (batch or streaming; from_json works identically in both). The parse
    is projected to a column first so CollapseProject's non-cheap
    multi-reference guard keeps it un-inlined.

    CAUTION: ``col`` should be a real column (file/Kafka source), not an
    in-plan ``to_json`` expression. Composing decode over encode in one
    lineage lets OptimizeJsonExprs prune a separate per-field-access copy
    of the paired from_json(to_json(...)) tree — plan optimization alone
    then costs minutes at any data size. Put a materialization boundary
    (the topic itself, a file, or ``localCheckpoint``) between the halves.
    """
    raw = df.select(F.from_json(F.col(col), _decode_read_schema()).alias("_parsed"))
    return raw.select(*_envelope_columns(F.col("_parsed")))
