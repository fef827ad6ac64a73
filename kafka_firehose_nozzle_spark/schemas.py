"""Static schema contract for the firehose Envelope stream.

The reference's data model is a protobuf tagged union: a common header plus
exactly one of six payload sub-messages, discriminated by ``eventType``
(reference: vendor/.../sonde-go/events/envelope.pb.go:98-117). The schema is
compiled, never inferred — we mirror that with StructType constants.

Field order in each struct matches the easyjson marshal order
(events_easyjson.go) so that ``to_json`` over these structs reproduces the
reference's JSON key order byte-for-byte (see functions/sonde_json.py).

uint64 fields are carried as LongType (values in practice << 2^63; the JSON
encoder re-widens to unsigned via Decimal(20,0) at render time, so byte
output is exact even above 2^63). Timestamps are int64 *nanoseconds* — kept
as LongType source of truth; derive TimestampType via ``timestamp_micros``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- EventType enum (envelope.pb.go:48-59) ---------------------------------
HTTP_START_STOP = 4
LOG_MESSAGE = 5
VALUE_METRIC = 6
COUNTER_EVENT = 7
ERROR = 8
CONTAINER_METRIC = 9

EVENT_TYPE_NAMES = {
    HTTP_START_STOP: "HttpStartStop",
    LOG_MESSAGE: "LogMessage",
    VALUE_METRIC: "ValueMetric",
    COUNTER_EVENT: "CounterEvent",
    ERROR: "Error",
    CONTAINER_METRIC: "ContainerMetric",
}

# LogMessage.MessageType (log.pb.go:21-26)
MESSAGE_TYPE_OUT = 1
MESSAGE_TYPE_ERR = 2

# PeerType (http.pb.go:21-26)
PEER_TYPE_SERVER = 2

# --- UUID (uuid.pb.go:23-27): 128-bit id as two little-endian u64 ----------
UUID_SCHEMA = T.StructType(
    [
        T.StructField("low", T.LongType(), True),
        T.StructField("high", T.LongType(), True),
    ]
)

# --- payload sub-messages ---------------------------------------------------
HTTP_START_STOP_SCHEMA = T.StructType(
    [
        T.StructField("startTimestamp", T.LongType(), True),
        T.StructField("stopTimestamp", T.LongType(), True),
        T.StructField("requestId", UUID_SCHEMA, True),
        T.StructField("peerType", T.IntegerType(), True),
        T.StructField("method", T.IntegerType(), True),
        T.StructField("uri", T.StringType(), True),
        T.StructField("remoteAddress", T.StringType(), True),
        T.StructField("userAgent", T.StringType(), True),
        T.StructField("statusCode", T.IntegerType(), True),
        T.StructField("contentLength", T.LongType(), True),
        T.StructField("applicationId", UUID_SCHEMA, True),
        T.StructField("instanceIndex", T.IntegerType(), True),
        T.StructField("instanceId", T.StringType(), True),
        T.StructField("forwarded", T.ArrayType(T.StringType()), True),
    ]
)  # http.pb.go:217-233

LOG_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("message", T.BinaryType(), True),
        T.StructField("message_type", T.IntegerType(), True),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("app_id", T.StringType(), True),
        T.StructField("source_type", T.StringType(), True),
        T.StructField("source_instance", T.StringType(), True),
    ]
)  # log.pb.go:56-64

VALUE_METRIC_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("unit", T.StringType(), True),
    ]
)  # metric.pb.go:21-26

COUNTER_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("delta", T.LongType(), True),
        T.StructField("total", T.LongType(), True),
    ]
)  # metric.pb.go:55-60

ERROR_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("code", T.IntegerType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)  # error.pb.go:21-26

CONTAINER_METRIC_SCHEMA = T.StructType(
    [
        T.StructField("applicationId", T.StringType(), True),
        T.StructField("instanceIndex", T.IntegerType(), True),
        T.StructField("cpuPercentage", T.DoubleType(), True),
        T.StructField("memoryBytes", T.LongType(), True),
        T.StructField("diskBytes", T.LongType(), True),
        T.StructField("memoryBytesQuota", T.LongType(), True),
        T.StructField("diskBytesQuota", T.LongType(), True),
    ]
)  # metric.pb.go:89-98

# --- Envelope (envelope.pb.go:98-117); field order = easyjson marshal order -
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("origin", T.StringType(), False),
        T.StructField("eventType", T.IntegerType(), False),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("deployment", T.StringType(), True),
        T.StructField("job", T.StringType(), True),
        T.StructField("index", T.StringType(), True),
        T.StructField("ip", T.StringType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("httpStartStop", HTTP_START_STOP_SCHEMA, True),
        T.StructField("logMessage", LOG_MESSAGE_SCHEMA, True),
        T.StructField("valueMetric", VALUE_METRIC_SCHEMA, True),
        T.StructField("counterEvent", COUNTER_EVENT_SCHEMA, True),
        T.StructField("error", ERROR_SCHEMA, True),
        T.StructField("containerMetric", CONTAINER_METRIC_SCHEMA, True),
        # raw unknown-field residue from the wire decode — gogo proto's
        # XXX_unrecognized (envelope.pb.go:116) kept with the row, so
        # envelope fields a newer Doppler adds are not silently lost. NULL on
        # every non-wire source; NEVER emitted into sonde JSON (easyjson
        # has no unknown-field concept, encoder parity is byte-exact).
        T.StructField("_unrecognized", T.BinaryType(), True),
    ]
)
