"""Firehose Python DataSource tests (SRC1/SRC2): fixture-mode streaming
through the full DataSource plumbing, URL building, token validation,
checkpoint crash-recovery."""

import logging
import os
import re
import subprocess
import sys
import time

import pytest

from kafka_firehose_nozzle_spark.config import Config
from kafka_firehose_nozzle_spark.schemas import ENVELOPE_SCHEMA
from kafka_firehose_nozzle_spark.sources.firehose import (
    FirehoseStreamReader,
    fetch_uaa_token,
    firehose_url,
)
from kafka_firehose_nozzle_spark.streaming.job import firehose_stream


def rows_of(batches) -> list[dict]:
    """The rows of the Arrow batches a reader returns."""
    return [r for b in batches for r in b.to_pylist()]


def test_firehose_url():
    # noaa firehose.go:42-44
    assert (
        firehose_url("wss://doppler.example.com:443", "my-sub")
        == "wss://doppler.example.com:443/firehose/my-sub"
    )


@pytest.mark.parametrize(
    "kw,msg",
    [
        (dict(uaa_addr="", username="u", password="p"), "UaaAddr must not be empty"),
        (dict(uaa_addr="https://uaa", username="", password="p"), "Username must not be empty"),
        (dict(uaa_addr="https://uaa", username="u", password=""), "Password must not be empty"),
    ],
)
def test_token_validation(kw, msg):
    # go-nozzle token.go:69-83
    with pytest.raises(ValueError, match=msg):
        fetch_uaa_token(**kw)


def test_live_replay_drop_is_counted_and_logged(caplog):
    """The live (non-fixture) path cannot replay a crashed range; the
    loss must be observable — counted and logged — matching the
    reference's counted-drop semantics (kafka.go:269-272)."""
    reader = FirehoseStreamReader({})
    assert reader.dropped_replay_rows == 0
    with caplog.at_level("WARNING", logger="kafka_firehose_nozzle_spark"):
        out = list(reader.readBetweenOffsets({"n": 10}, {"n": 25}))
    assert out == []
    assert reader.dropped_replay_rows == 15
    assert any("dropping 15" in r.message for r in caplog.records)
    # tallies accumulate across restarts of the same reader
    list(reader.readBetweenOffsets({"n": 25}, {"n": 30}))
    assert reader.dropped_replay_rows == 20


# A process like Spark's Python source worker: no logging set up unless
# argv[2] == "configured". The reader logs one WARNING (a live restart's
# replay drop) at the level given as its logLevel option, argv[1].
_READER_LOG_PROBE = """
import logging, sys
if sys.argv[2] == "configured":
    logging.basicConfig(format="root handler: %(message)s")
from kafka_firehose_nozzle_spark.sources.firehose import FirehoseStreamReader
reader = FirehoseStreamReader({"logLevel": sys.argv[1]})
list(reader.readBetweenOffsets({"n": 0}, {"n": 3}))
"""
_STAMP = r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d,\d{3}"


@pytest.mark.parametrize(
    "level,setup,want",
    [
        (logging.WARNING, "bare", rf"{_STAMP} \[WARNING\] firehose restart: .*dropping 3 "),
        (logging.ERROR, "bare", None),
        (logging.WARNING, "configured", r"root handler: firehose restart: .*dropping 3 "),
    ],
)
def test_reader_logs_in_the_nozzle_format_at_the_driver_level(level, setup, want):
    """Where nothing configured logging, the reader writes the nozzle's
    log line to stderr and drops what is below the level it was given;
    a handler the process has already writes each line once, its own
    way."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", _READER_LOG_PROBE, str(level), setup],
        capture_output=True, text=True, cwd=root, timeout=120,
        env={**os.environ, "PYTHONPATH": root},
    )
    assert run.returncode == 0, run.stderr
    lines = run.stderr.splitlines()
    if want is None:
        assert lines == []
    else:
        assert len(lines) == 1 and re.match(want, lines[0]), lines


def test_firehose_stream_passes_the_driver_log_level(spark, monkeypatch):
    """The reader's process gets the driver logger's effective level."""
    from pyspark.sql.streaming import DataStreamReader

    seen = {}
    option = DataStreamReader.option

    def record(self, key, value):
        seen[key] = value
        return option(self, key, value)

    monkeypatch.setattr(DataStreamReader, "option", record)
    monkeypatch.setattr(
        logging.getLogger("kafka_firehose_nozzle_spark"), "level", logging.ERROR
    )
    firehose_stream(spark, Config(), fixtureRows=1)
    assert seen["logLevel"] == str(logging.ERROR)


def test_reader_offsets_fixture_mode():
    reader = FirehoseStreamReader({"fixtureRows": "16"})
    assert reader.initialOffset() == {"n": 0}
    rows, end = reader.read({"n": 0})
    rows = rows_of(rows)
    assert len(rows) == 16
    assert end == {"n": 16}
    rows2, end2 = reader.read(end)
    assert end2 == {"n": 32}
    # deterministic: same offset -> same rows
    again = rows_of(reader.read({"n": 0})[0])
    assert again == rows


def test_crash_recovery_replays_from_checkpoint(spark, tmp_path):
    """Kill a running fixture-mode stream, restart from the same
    checkpoint, and assert at-least-once across the restart: every
    global sequence number up to the max processed appears in the output
    (no loss; duplicates would be allowed). The reference is LOSSY under
    sustained failure (kafka.go:269-271 drops on a full side buffer);
    checkpointed replay is the documented semantic upgrade (ST1).

    Fixture rows encode their global sequence number n in the timestamp
    (canonical base ts + n), so the output rows recover the exact offset
    ranges the SimpleDataSourceStreamReader cache/commit contract must
    not lose across a restart."""
    from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        df = firehose_stream(spark, Config(), fixtureRows=7)
        return (
            df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def committed_batches(q):
        p = q.lastProgress
        return p["batchId"] if p else -1

    q1 = start()
    try:
        deadline = time.time() + 120
        while committed_batches(q1) < 2 and time.time() < deadline:
            time.sleep(0.2)
        assert committed_batches(q1) >= 2, "stream never progressed"
    finally:
        q1.stop()  # terminate without waiting for a batch boundary
    n_before = spark.read.parquet(out_dir).count()
    assert n_before > 0

    q2 = start()
    try:
        resumed_from = None
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q2.lastProgress
            if p is not None:
                resumed_from = resumed_from or p["batchId"]
                if spark.read.parquet(out_dir).count() > n_before:
                    break
            time.sleep(0.2)
        # restart resumed the checkpointed batch counter, not batch 0
        assert resumed_from is not None and resumed_from >= 2
    finally:
        q2.stop()

    # recover each row's global sequence number: the fixture emits
    # canon[n % len(canon)] with timestamp = base_ts + n, and
    # (origin, eventType) identifies which canonical the row came from
    canon = canonical_envelopes()
    base = {}
    for c in canon:
        base.setdefault((c["origin"], c["eventType"]), c["timestamp"] or 0)
    rows = spark.read.parquet(out_dir).select(
        "origin", "eventType", "timestamp"
    ).collect()
    seqs = sorted(
        r.timestamp - base[(r.origin, r.eventType)] for r in rows
    )
    assert seqs, "no rows after recovery"
    missing = set(range(max(seqs) + 1)) - set(seqs)
    assert not missing, f"lost sequence numbers across restart: {sorted(missing)[:10]}"


def test_stream_through_spark(spark, tmp_path):
    """End-to-end: register the DataSource, run a streaming batch into a
    memory sink, check schema + row content."""
    df = firehose_stream(spark, Config(), fixtureRows=24)
    q = (
        df.writeStream.format("memory")
        .queryName("firehose_fixture_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM firehose_fixture_out")
    assert out.count() >= 24
    row = out.filter("origin = 'fake-origin-1'").limit(1).collect()[0]
    assert row.eventType == 5
    assert bytes(row.logMessage.message) == b"hello"
    names = [f.name for f in out.schema.fields]
    assert names[:3] == ["origin", "eventType", "timestamp"]
    assert names == ENVELOPE_SCHEMA.fieldNames()
