"""Dropsonde protobuf wire frames -> typed envelope rows, for the live
stream and the lake alike.

:func:`decode_frames` is the one decode loop: a list of raw frames in,
one Arrow ``RecordBatch`` of envelope fields plus ``_decode_error`` /
``_raw`` out. The firehose reader (firehose.py) returns that batch from
``read()`` as is; lakes run it per Arrow batch over a ``binary`` column
of undecoded capture frames (the Kafka-archive / pcap-dump shape) in
:func:`decode_wire_frames`:

- ``mapInArrow``: the pure-python proto2 parser
  (sources/dropsonde_wire.py — no protobuf runtime needed on
  executors) runs per frame inside a batch loop, so the plan stays one
  embarrassingly-parallel map stage — no shuffle, no driver
  involvement, partition-count parallelism.
- Undecodable frames follow the reference's counted-drop stance
  (kafka.go:269-271): they land in a ``_decode_error`` column with
  their raw bytes instead of killing the job or the stream, and the
  caller splits good/bad exactly like the JSONL quarantine source.

Reference parity: S1 (protobuf decode).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import (
    decode_envelope,
    encode_envelope,
)


def _with_residue(dt):
    """Nested payload structs (recursively — the UUIDs inside
    httpStartStop included) gain their own `_unrecognized` binary
    subfield on the DECODE side: gogo proto keeps XXX_unrecognized on
    EVERY generated struct (metric.pb.go included), and the wire codec
    already captures residue per message level — without a schema slot
    the Arrow conversion would silently drop nested unknowns at the
    DataFrame boundary, breaking the byte-exact re-encode contract."""
    if not isinstance(dt, T.StructType):
        return dt
    return T.StructType(
        [
            T.StructField(f.name, _with_residue(f.dataType), True)
            for f in dt.fields
        ]
        + [T.StructField("_unrecognized", T.BinaryType(), True)]
    )


def _decoded(payload_type) -> T.StructType:
    # every field forced nullable: a quarantined frame carries NULL
    # envelope fields, which the envelope schema's required (non-null)
    # proto2 fields would reject at the Unsafe row writer (JVM NPE)
    return T.StructType(
        [
            T.StructField(f.name, payload_type(f.dataType), True)
            for f in schemas.ENVELOPE_SCHEMA.fields
        ]
        + [
            T.StructField("_decode_error", T.StringType()),
            # raw frame bytes, populated ONLY for quarantined rows (same
            # contract as the JSONL source: the byte-exact original is
            # preserved for repair/replay, good rows don't double-store it)
            T.StructField("_raw", T.BinaryType()),
        ]
    )


# lake shape: nested residue slots keep decode -> re-encode byte-exact
DECODED_SCHEMA = _decoded(_with_residue)
# live shape: no nested residue — sonde_json passes the payload structs
# through whole, so a nested `_unrecognized` would leak into the JSON
FRAME_SCHEMA = _decoded(lambda dt: dt)


def _quarantine(buf, err: Exception) -> dict:
    return {
        "_decode_error": f"{type(err).__name__}: {err}"[:200],
        # buf can itself be None — the quarantine handler must not raise
        # (bytes(None) TypeError would fail the job from inside the
        # never-job-fail path)
        "_raw": None if buf is None else bytes(buf),
    }


def decode_frames(frames: Iterable, arrow_schema: pa.Schema) -> pa.RecordBatch:
    """Wire frames -> one Arrow batch in ``arrow_schema`` (DECODED_SCHEMA
    or FRAME_SCHEMA), one row per frame: envelope fields for good frames,
    NULL fields plus ``_decode_error`` and ``_raw`` for bad ones. Each
    frame is decoded as ``frames`` yields it, so a reader that passes a
    generator over its socket decodes in the gaps between arrivals.

    ``RecordBatch.from_pylist`` against the explicit Arrow schema, not a
    pandas frame: it keeps a NaN double a value (pandas' object->Arrow
    conversion would null it), ints exact at any magnitude, and maps
    nested dicts to struct fields by NAME, ignoring keys the schema
    lacks."""
    bufs, rows = [], []
    for buf in frames:
        bufs.append(buf)
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
        return pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
    except (pa.ArrowException, OverflowError):
        # a parsed value the column cannot hold (e.g. an int32 enum
        # past 2^31) fails the whole batch: retry row by row so only
        # that frame is quarantined
        for i, buf in enumerate(bufs):
            try:
                pa.RecordBatch.from_pylist(rows[i : i + 1], schema=arrow_schema)
            except (pa.ArrowException, OverflowError) as e:
                rows[i] = _quarantine(buf, e)
        return pa.RecordBatch.from_pylist(rows, schema=arrow_schema)


def decode_wire_frames(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Binary wire-frame column -> typed envelope rows + _decode_error.

    Rows whose frame fails to parse carry NULL envelope fields and the
    error text in ``_decode_error``; good rows carry NULL there.  Split
    with ``.filter("_decode_error IS NULL")`` / ``IS NOT NULL`` — both
    halves share the single decode pass.
    """

    def decode(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(DECODED_SCHEMA)
        for batch in batches:
            yield decode_frames(batch.column(0).to_pylist(), arrow_schema)

    return df.select(payload_col).mapInArrow(decode, DECODED_SCHEMA)


def encode_wire_frames(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Typed ENVELOPE_SCHEMA rows -> binary dropsonde wire frames: the
    inverse of :func:`decode_wire_frames` (what a raw-capture archiver
    or a protobuf-topic producer runs). Same plan shape — one
    shuffle-free Arrow-batched map stage.

    Round-trip contract: ``encode(decode(frames)) == frames`` byte-exact
    for canonically-ordered frames, INCLUDING unknown fields AT EVERY
    message level — the ``_unrecognized`` envelope column and the
    nested residue subfields DECODED_SCHEMA adds re-emit raw unknown
    tag+value bytes after each level's known fields, exactly like gogo
    proto's XXX_unrecognized on Marshal (envelope.pb.go:116) — pinned
    by tests/test_dropsonde_wire.py and the round-trip tests in
    tests/test_io.py. One deliberate exclusion, matching gogo exactly:
    unknown fields inside a synthetic MAP-ENTRY message (``tags``) are
    dropped — gogo decodes map fields straight into map[string]string
    and retains no entry-level unknowns either, so the parity claim is
    the reference's own behavior, not a gap.

    ``mapInArrow``, NOT ``mapInPandas``: the pandas conversion turns a
    nullable int64 struct child into float64 whenever a batch mixes
    null and non-null parents, silently rounding ns timestamps
    (> 2^53) to 256-ns multiples. Arrow ``to_pylist`` yields the plain
    dict format encode_envelope takes — exact ints, NaN a value, bytes,
    nested dicts with their ``_unrecognized`` residue — except that a
    map arrives as (key, value) pairs."""
    out_schema = T.StructType([T.StructField(payload_col, T.BinaryType())])

    def encode(batches):
        for batch in batches:
            payloads = []
            for row in batch.to_pylist():
                if row["tags"] is not None:
                    row["tags"] = dict(row["tags"])
                payloads.append(encode_envelope(row))
            yield pa.RecordBatch.from_arrays(
                [pa.array(payloads, type=pa.binary())], [payload_col]
            )

    return df.select(*schemas.ENVELOPE_SCHEMA.fieldNames()).mapInArrow(
        encode, out_schema
    )
