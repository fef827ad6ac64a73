"""Monitoring counters: the reference's only aggregation, Spark-native.

The reference keeps 15 atomic counters updated from the hot path
(stats.go:19-74, Inc stats.go:113-146) and renders them as JSON over HTTP
(stats.go:93-96, golden stats_test.go:64-92). Spark mapping (A1):
``df.observe(...)`` attaches the counting aggregates to the *same* batch
plan (no second pass over the data); a StreamingQueryListener (or direct
observed-metrics read in batch) accumulates across micro-batches.

JSON key order and names — including the reference's literal
``subinupt_buffer`` typo (stats.go:64) — match the golden.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas

# observation names
OBS_CONSUME = "nozzle_consume"
OBS_ROUTED = "nozzle_routed"
OBS_DECODE = "nozzle_decode"

# slow-consumer alert predicate (go-nozzle/detector.go:116-124): a
# doppler-originated CounterEvent named TruncatingBuffer.DroppedMessages.
TRUNCATING_BUFFER_COUNTER = "TruncatingBuffer.DroppedMessages"
DOPPLER_ORIGIN = "doppler"


def slow_consumer_predicate(df: DataFrame):
    return (
        (df["eventType"] == schemas.COUNTER_EVENT)
        & (df["origin"] == DOPPLER_ORIGIN)
        & (df["counterEvent.name"] == TRUNCATING_BUFFER_COUNTER)
    )


def observe_consume(df: DataFrame, observation=None) -> DataFrame:
    """Attach consume-side counters (kafka.go:308-331, cli.go:297-303).

    ``observation``: a pyspark.sql.Observation for batch mode (read its
    ``.get`` after an action); default is a named observation readable from
    a StreamingQueryListener in streaming mode.
    """
    et = df["eventType"]
    return df.observe(
        observation if observation is not None else OBS_CONSUME,
        F.count(F.lit(1)).alias("consume"),
        F.count_if(et == schemas.HTTP_START_STOP).alias("consume_http_start_stop"),
        F.count_if(et == schemas.VALUE_METRIC).alias("consume_value_metric"),
        F.count_if(et == schemas.COUNTER_EVENT).alias("consume_counter_event"),
        F.count_if(et == schemas.LOG_MESSAGE).alias("consume_log_message"),
        F.count_if(et == schemas.ERROR).alias("consume_error"),
        F.count_if(et == schemas.CONTAINER_METRIC).alias("consume_container_metric"),
        # isNull() is explicit: ~NULL.isin(...) is NULL and count_if
        # would skip it, leaving a NULL-typed envelope counted in
        # `consume` but in NO per-type bucket — the reference's default
        # switch arm counts every unmatched event (nozzle.go)
        F.count_if(
            et.isNull() | ~et.isin(list(schemas.EVENT_TYPE_NAMES))
        ).alias("consume_unknown"),
        F.count_if(slow_consumer_predicate(df)).alias("slow_consumer_alert"),
    )


def observe_decode(df: DataFrame) -> DataFrame:
    """Attach decode-failure counters to a decoded frame stream (the
    ``_decode_error``/``_raw`` columns of wire_batch.FRAME_SCHEMA):
    quarantined frames count into ``consume_fail``, and each one's error
    and base64 raw bytes ride along for the listener to log."""
    bad = F.col("_decode_error").isNotNull()
    return df.observe(
        OBS_DECODE,
        F.count_if(bad).alias("consume_fail"),
        F.collect_list(
            F.when(
                bad,
                F.struct(
                    F.col("_decode_error").alias("error"),
                    # unchunked: Spark's base64 breaks lines every 76
                    # chars, which would split one log line
                    F.regexp_replace(F.base64("_raw"), "\\s", "").alias("raw"),
                ),
            )
        ).alias("bad_frames"),
    )


def observe_routed(df: DataFrame, observation=None) -> DataFrame:
    """Attach routed-side counters; expects a ``topic`` column (P2)."""
    return df.observe(
        observation if observation is not None else OBS_ROUTED,
        F.count_if(F.col("topic").isNull()).alias("ignored"),
        F.count_if(F.col("topic").isNotNull()).alias("forwarded"),
    )


_STATS_FIELDS = [
    # (json key, initial) in reference struct order (stats.go:41-74)
    ("consume", 0),
    ("consume_per_sec", 0),
    ("consume_fail", 0),
    ("consume_http_start_stop", 0),
    ("consume_value_metric", 0),
    ("consume_counter_event", 0),
    ("consume_log_message", 0),
    ("consume_error", 0),
    ("consume_container_metric", 0),
    ("consume_unknown", 0),
    ("ignored", 0),
    ("forwarded", 0),
    ("publish", 0),
    ("publish_per_sec", 0),
    ("publish_fail", 0),
    ("slow_consumer_alert", 0),
    ("subinupt_buffer", 0),  # typo preserved from stats.go:64
    ("delay", 0),
    ("instance_id", 0),
]


class Stats:
    """Accumulating counter set with the reference's JSON contract.

    Thread-safe like the reference's atomics (stats.go:113-153); usable
    from a StreamingQueryListener callback thread and an HTTP server
    thread concurrently.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._c: dict[str, int] = {k: v for k, v in _STATS_FIELDS}
        # instance id from $CF_INSTANCE_INDEX, non-numeric -> 0
        # (stats.go:76-91)
        id_str = os.environ.get("CF_INSTANCE_INDEX", "")
        try:
            self._c["instance_id"] = int(id_str) if id_str else 0
        except ValueError:
            self._c["instance_id"] = 0
        self._last_consume = 0
        self._last_publish = 0

    def inc(self, key: str, delta: int = 1) -> None:
        with self._lock:
            self._c[key] += delta

    def dec(self, key: str, delta: int = 1) -> None:
        with self._lock:
            self._c[key] -= delta

    def get(self, key: str) -> int:
        with self._lock:
            return self._c[key]

    def merge_observation(self, metrics: dict) -> None:
        """Fold an observe() row (dict) into the counters."""
        with self._lock:
            for k, v in metrics.items():
                if k in self._c and v is not None:
                    self._c[k] += int(v)

    def tick_per_sec(self) -> None:
        """1s rate update (Stats.PerSec, stats.go:98-111)."""
        with self._lock:
            self._c["consume_per_sec"] = self._c["consume"] - self._last_consume
            self._c["publish_per_sec"] = self._c["publish"] - self._last_publish
            self._last_consume = self._c["consume"]
            self._last_publish = self._c["publish"]

    def start_per_sec_ticker(self, interval: float = 1.0) -> threading.Event:
        """Background 1s ticker; returns an Event to stop it."""
        stop = threading.Event()

        def run():
            while not stop.wait(interval):
                self.tick_per_sec()

        threading.Thread(target=run, daemon=True, name="stats-per-sec").start()
        return stop

    def snapshot(self) -> dict:
        with self._lock:
            out = dict(self._c)
        # Delay = Forwarded - (Publish + PublishFail) (stats.go:93-96)
        out["delay"] = out["forwarded"] - (out["publish"] + out["publish_fail"])
        return out

    def to_json(self) -> str:
        """Render in exact reference key order (stats_test.go:64-84)."""
        snap = self.snapshot()
        return json.dumps(
            {k: snap[k] for k, _ in _STATS_FIELDS}, separators=(",", ":")
        )


def make_streaming_listener(stats: Stats, query_id=None):
    """StreamingQueryListener folding per-batch observed metrics + sink
    progress into ``stats`` (the A1 accumulation across micro-batches).

    ``query_id`` scopes the listener to ONE query: listeners receive
    events for EVERY query on the shared session, and two pipelines use
    the same observation names, so an unscoped listener double-counts
    the other pipeline's consume/forwarded and folds foreign sink rows
    into ``publish``. The id isn't known until ``.start()`` returns, so
    callers may also assign ``listener.query_id`` right after start
    (streaming/job.py does); events arriving while it is None are
    counted unscoped — progress events only fire after a completed
    batch, so the post-start assignment wins that race in practice."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StatsListener(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.query_id = query_id

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            prog = event.progress
            if self.query_id is not None and str(prog.id) != str(self.query_id):
                return
            om = prog.observedMetrics or {}
            for name in (OBS_CONSUME, OBS_ROUTED, OBS_DECODE):
                row = om.get(name)
                if row is not None:
                    stats.merge_observation(row.asDict())
            if om.get(OBS_DECODE) is not None:
                for bad in om[OBS_DECODE]["bad_frames"]:
                    logging.getLogger("kafka_firehose_nozzle_spark").warning(
                        "firehose frame quarantined: %s; raw frame (base64): %r",
                        bad["error"],
                        bad["raw"],
                    )
            # rows that reached the sink count as published (cli.go:309-313)
            if prog.sink is not None and prog.sink.numOutputRows is not None:
                n = prog.sink.numOutputRows
                if n > 0:
                    stats.inc("publish", n)

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    return StatsListener()
