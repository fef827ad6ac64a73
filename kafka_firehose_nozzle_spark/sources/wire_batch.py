"""Dropsonde protobuf wire frames -> typed envelope rows for the live
stream.

:func:`decode_frames` is the one decode loop: a list of raw frames in,
one Arrow ``RecordBatch`` in ``FRAME_SCHEMA`` out. The pure-python
proto2 parser (sources/dropsonde_wire.py) needs no protobuf runtime.
Undecodable frames follow the reference's counted-drop stance
(kafka.go:269-271): they land in a ``_decode_error`` column with their
raw bytes instead of killing the stream. The firehose reader
(firehose.py) splits those rows off, logs and counts them, and hands
Spark the envelope columns of the rest.

Reference parity: S1 (protobuf decode).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import decode_envelope


# every field forced nullable: a quarantined frame carries NULL envelope
# fields, which the envelope schema's required (non-null) proto2 fields
# would reject at the Unsafe row writer (JVM NPE)
FRAME_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in schemas.ENVELOPE_SCHEMA.fields
    ]
    + [
        T.StructField("_decode_error", T.StringType()),
        # raw frame bytes, populated ONLY for quarantined rows: the
        # byte-exact original is kept for repair/replay, and good rows
        # do not store it twice
        T.StructField("_raw", T.BinaryType()),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(FRAME_SCHEMA)


def _quarantine(buf, err: Exception) -> dict:
    return {
        "_decode_error": f"{type(err).__name__}: {err}"[:200],
        # buf can itself be None — the quarantine handler must not raise
        # (bytes(None) TypeError would fail the job from inside the
        # never-job-fail path)
        "_raw": None if buf is None else bytes(buf),
    }


def decode_frames(frames: list) -> pa.RecordBatch:
    """Wire frames -> one Arrow batch in ``FRAME_SCHEMA``, one row per
    frame: envelope fields for good frames, NULL fields plus
    ``_decode_error`` and ``_raw`` for bad ones. The firehose reader's
    pump passes the frames of one chunk as a list; an empty list gives
    the empty batch a read with no rows returns.

    ``RecordBatch.from_pylist`` against the explicit Arrow schema, not a
    pandas frame: it keeps a NaN double a value (pandas' object->Arrow
    conversion would null it), ints exact at any magnitude, and maps
    nested dicts to struct fields by NAME, ignoring keys the schema
    lacks."""
    rows = []
    for buf in frames:
        try:
            if buf is None:
                raise ValueError("null payload")
            row = decode_envelope(bytes(buf))
            # proto2 `required` (envelope.pb.go:99-100): a frame without
            # them — an empty frame included — is not an envelope
            if row["origin"] is None or row["eventType"] is None:
                raise ValueError("missing required field origin/eventType")
        except Exception as e:  # counted-drop, never job-fail
            row = _quarantine(buf, e)
        rows.append(row)
    try:
        return pa.RecordBatch.from_pylist(rows, schema=_ARROW_SCHEMA)
    except (pa.ArrowException, OverflowError):
        # a parsed value the column cannot hold (e.g. an int32 enum
        # past 2^31) fails the whole batch: retry row by row so only
        # that frame is quarantined
        for i, buf in enumerate(frames):
            try:
                pa.RecordBatch.from_pylist(rows[i : i + 1], schema=_ARROW_SCHEMA)
            except (pa.ArrowException, OverflowError) as e:
                rows[i] = _quarantine(buf, e)
        return pa.RecordBatch.from_pylist(rows, schema=_ARROW_SCHEMA)
