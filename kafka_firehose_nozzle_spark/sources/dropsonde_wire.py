"""Dropsonde protobuf wire-format codec (S1), hand-rolled, zero-dependency.

The firehose delivers each event as one proto2-encoded ``events.Envelope``
message per websocket frame (reference: decode happens inside noaa,
vendor/.../go-nozzle/consumer.go:103 via ``proto.Unmarshal``). The message
layout — field numbers, wire types, nesting — is taken from the public
sonde-go descriptors (vendor/.../sonde-go/events/envelope.pb.go:98-117,
http.pb.go:217-233, log.pb.go:56-64, metric.pb.go:21-98, error.pb.go:21-26,
uuid.pb.go:23-27). Only the standard protobuf wire encoding is implemented
here: varint, 64-bit fixed, and length-delimited records.

Why hand-rolled: the container has no compiled sonde descriptor, and the
wire format is tiny and frozen (proto2, 7 message types). A
descriptor-table-driven decoder keeps this ~150 lines, deterministic, and
importable on every executor with no native deps.

Decoded output is the plain-dict envelope format used by
``fixtures.canonical_envelopes``; ``wire_batch.decode_frames`` turns a
list of frames into one Arrow batch of such rows for the live firehose
reader.

Integer conventions (see schemas.py): uint64 fields are carried as signed
64-bit longs (two's-complement wrap), matching how the UUID codec and JSON
encoder treat them; int32/enum negatives occupy a 10-byte varint on the
wire per proto2.
"""

from __future__ import annotations

import struct

_U64 = 1 << 64
_I64_MAX = (1 << 63) - 1

# field kinds
_STR = "string"
_BYTES = "bytes"
_VARINT = "varint"  # int64/uint64/int32/enum: all wrap to signed-64
_DOUBLE = "double"
_MSG = "msg"
_MAP_SS = "map_ss"  # map<string,string>
_REP_STR = "rep_string"

# --- descriptors: field_no -> (name, kind, sub_descriptor|None) -------------

UUID_DESC = {  # uuid.pb.go:23-27
    1: ("low", _VARINT, None),
    2: ("high", _VARINT, None),
}

HTTP_DESC = {  # http.pb.go:217-233
    1: ("startTimestamp", _VARINT, None),
    2: ("stopTimestamp", _VARINT, None),
    3: ("requestId", _MSG, UUID_DESC),
    4: ("peerType", _VARINT, None),
    5: ("method", _VARINT, None),
    6: ("uri", _STR, None),
    7: ("remoteAddress", _STR, None),
    8: ("userAgent", _STR, None),
    9: ("statusCode", _VARINT, None),
    10: ("contentLength", _VARINT, None),
    12: ("applicationId", _MSG, UUID_DESC),
    13: ("instanceIndex", _VARINT, None),
    14: ("instanceId", _STR, None),
    15: ("forwarded", _REP_STR, None),
}

LOG_DESC = {  # log.pb.go:56-64
    1: ("message", _BYTES, None),
    2: ("message_type", _VARINT, None),
    3: ("timestamp", _VARINT, None),
    4: ("app_id", _STR, None),
    5: ("source_type", _STR, None),
    6: ("source_instance", _STR, None),
}

VALUE_METRIC_DESC = {  # metric.pb.go:21-26
    1: ("name", _STR, None),
    2: ("value", _DOUBLE, None),
    3: ("unit", _STR, None),
}

COUNTER_EVENT_DESC = {  # metric.pb.go:55-60
    1: ("name", _STR, None),
    2: ("delta", _VARINT, None),
    3: ("total", _VARINT, None),
}

ERROR_DESC = {  # error.pb.go:21-26
    1: ("source", _STR, None),
    2: ("code", _VARINT, None),
    3: ("message", _STR, None),
}

CONTAINER_METRIC_DESC = {  # metric.pb.go:89-98
    1: ("applicationId", _STR, None),
    2: ("instanceIndex", _VARINT, None),
    3: ("cpuPercentage", _DOUBLE, None),
    4: ("memoryBytes", _VARINT, None),
    5: ("diskBytes", _VARINT, None),
    6: ("memoryBytesQuota", _VARINT, None),
    7: ("diskBytesQuota", _VARINT, None),
}

ENVELOPE_DESC = {  # envelope.pb.go:98-117
    1: ("origin", _STR, None),
    2: ("eventType", _VARINT, None),
    6: ("timestamp", _VARINT, None),
    7: ("httpStartStop", _MSG, HTTP_DESC),
    8: ("logMessage", _MSG, LOG_DESC),
    9: ("valueMetric", _MSG, VALUE_METRIC_DESC),
    10: ("counterEvent", _MSG, COUNTER_EVENT_DESC),
    11: ("error", _MSG, ERROR_DESC),
    12: ("containerMetric", _MSG, CONTAINER_METRIC_DESC),
    13: ("deployment", _STR, None),
    14: ("job", _STR, None),
    15: ("index", _STR, None),
    16: ("ip", _STR, None),
    17: ("tags", _MAP_SS, None),
}

_MAP_ENTRY_DESC = {1: ("key", _STR, None), 2: ("value", _STR, None)}


# --- wire primitives --------------------------------------------------------


def _read_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7
        if shift > 63:
            raise ValueError("varint exceeds 64 bits")


def _write_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _to_signed64(v: int) -> int:
    return v - _U64 if v > _I64_MAX else v


# --- decode -----------------------------------------------------------------


def _decode_message(buf: bytes, desc: dict) -> dict:
    out: dict = {name: None for (name, _, _) in desc.values()}
    unrecognized = bytearray()
    i = 0
    while i < len(buf):
        tag_start = i
        tag, i = _read_uvarint(buf, i)
        field_no, wire_type = tag >> 3, tag & 7
        if wire_type == 0:
            raw, i = _read_uvarint(buf, i)
        elif wire_type == 1:
            raw, i = buf[i : i + 8], i + 8
        elif wire_type == 2:
            ln, i = _read_uvarint(buf, i)
            raw, i = buf[i : i + ln], i + ln
            if len(raw) != ln:
                raise ValueError("truncated length-delimited field")
        elif wire_type == 5:
            raw, i = buf[i : i + 4], i + 4
        else:
            raise ValueError(f"unsupported wire type {wire_type}")
        spec = desc.get(field_no)
        if spec is None:
            # unknown field: carried through verbatim, like gogo proto's
            # XXX_unrecognized (envelope.pb.go:116) — proto.Marshal
            # re-emits the raw tag+value bytes, so a decode->encode trip
            # through a newer schema loses nothing
            unrecognized += buf[tag_start:i]
            continue
        name, kind, sub = spec
        if kind == _STR:
            out[name] = raw.decode("utf-8")
        elif kind == _BYTES:
            out[name] = bytes(raw)
        elif kind == _VARINT:
            out[name] = _to_signed64(raw)
        elif kind == _DOUBLE:
            out[name] = struct.unpack("<d", raw)[0]
        elif kind == _MSG:
            out[name] = _decode_message(raw, sub)
        elif kind == _MAP_SS:
            entry = _decode_message(raw, _MAP_ENTRY_DESC)
            if out[name] is None:
                out[name] = {}
            out[name][entry["key"]] = entry["value"]
        elif kind == _REP_STR:
            if out[name] is None:
                out[name] = []
            out[name].append(raw.decode("utf-8"))
    if unrecognized:
        # only materialized when present, so known-field-only envelopes
        # keep their exact historical dict shape
        out["_unrecognized"] = bytes(unrecognized)
    return out


def decode_envelope(buf: bytes) -> dict:
    """Wire bytes of one events.Envelope -> plain envelope dict
    (fixtures.canonical_envelopes format, ENVELOPE_SCHEMA field names)."""
    return _decode_message(buf, ENVELOPE_DESC)


# --- encode (fixture/test path: lets CI drive the live decode seam) ---------


def _encode_message(values: dict, desc: dict) -> bytes:
    out = bytearray()
    for field_no in sorted(desc):
        name, kind, sub = desc[field_no]
        v = values.get(name)
        if v is None:
            continue
        if kind == _STR:
            _append_len(out, field_no, v.encode("utf-8"))
        elif kind == _BYTES:
            _append_len(out, field_no, v)
        elif kind == _VARINT:
            out += _write_uvarint(field_no << 3 | 0)
            out += _write_uvarint(v & (_U64 - 1))
        elif kind == _DOUBLE:
            out += _write_uvarint(field_no << 3 | 1)
            out += struct.pack("<d", v)
        elif kind == _MSG:
            _append_len(out, field_no, _encode_message(v, sub))
        elif kind == _MAP_SS:
            for k in v:
                _append_len(
                    out,
                    field_no,
                    _encode_message({"key": k, "value": v[k]}, _MAP_ENTRY_DESC),
                )
        elif kind == _REP_STR:
            for s in v:
                _append_len(out, field_no, s.encode("utf-8"))
    # re-emit unknown-field residue last, exactly as gogo proto appends
    # XXX_unrecognized after the known fields on Marshal
    # (envelope.pb.go:116)
    unrecognized = values.get("_unrecognized")
    if unrecognized:
        out += unrecognized
    return bytes(out)


def _append_len(out: bytearray, field_no: int, payload: bytes) -> None:
    out += _write_uvarint(field_no << 3 | 2)
    out += _write_uvarint(len(payload))
    out += payload


def encode_envelope(env: dict) -> bytes:
    """Plain envelope dict -> events.Envelope wire bytes. Inverse of
    :func:`decode_envelope`; used by the reader's fixture mode, the
    benchmark's frame generator and golden tests."""
    return _encode_message(env, ENVELOPE_DESC)
