"""Monitoring counters: the reference's only aggregation, Spark-native.

The reference keeps 15 atomic counters updated from the hot path
(stats.go:19-74, Inc stats.go:113-146) and renders them as JSON over HTTP
(stats.go:93-96, golden stats_test.go:64-92). Spark mapping (A1):
``counters`` is the one definition of the 11 counters the routed stream
can count; ``pipeline.route_envelopes`` attaches them as one observation
(``OBS_COUNTERS``) to the *same* batch plan (no second pass over the
data). The firehose reader counts what never reaches the plan, bad
frames (``consume_fail``) and 1008 closes (``slow_consumer_alert``), in
its source offset. A StreamingQueryListener accumulates the observation
and the growth of those offset tallies across micro-batches; a batch
caller can ``df.agg(*counters(df))`` instead.

JSON key order and names — including the reference's literal
``subinupt_buffer`` typo (stats.go:64) — match the golden.
"""

from __future__ import annotations

import ast
import json
import os
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark import schemas

# observation name
OBS_COUNTERS = "nozzle_counters"

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


def counters(df: DataFrame) -> list[Column]:
    """The consume, per-type, slow-consumer, ignored and forwarded counts
    (kafka.go:308-337, cli.go:297-303) over rows that carry ``topic``."""
    et = df["eventType"]

    def n(cond, name: str) -> Column:
        # count(when), not count_if: count_if is rewritten into one
        # _common_expr alias per predicate, in a Project above the topic
        # CASE that repeats the eventType tests; constraint propagation
        # then doubles per alias, and every micro-batch pays it in
        # planning (about 3x on the live path)
        return F.count(F.when(cond, F.lit(1))).alias(name)

    return [
        F.count(F.lit(1)).alias("consume"),
        n(et == schemas.HTTP_START_STOP, "consume_http_start_stop"),
        n(et == schemas.VALUE_METRIC, "consume_value_metric"),
        n(et == schemas.COUNTER_EVENT, "consume_counter_event"),
        n(et == schemas.LOG_MESSAGE, "consume_log_message"),
        n(et == schemas.ERROR, "consume_error"),
        n(et == schemas.CONTAINER_METRIC, "consume_container_metric"),
        # isNull() is explicit: ~NULL.isin(...) is NULL and count would
        # skip it, leaving a NULL-typed envelope counted in `consume`
        # but in NO per-type bucket — the reference's default switch
        # arm counts every unmatched event (nozzle.go)
        n(
            et.isNull() | ~et.isin(list(schemas.EVENT_TYPE_NAMES)),
            "consume_unknown",
        ),
        n(slow_consumer_predicate(df), "slow_consumer_alert"),
        n(df["topic"].isNull(), "ignored"),
        n(df["topic"].isNotNull(), "forwarded"),
    ]


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
_STATS_KEYS = frozenset(k for k, _ in _STATS_FIELDS)


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


def _offset(raw) -> dict:
    """A source offset as progress reports it: JSON, or the Python repr
    of the offset dict once PySpark has parsed the event; null or
    ``'None'`` (no offset yet) is empty."""
    if raw is None or raw == "None":
        return {}
    try:
        return json.loads(raw)
    except ValueError:
        return ast.literal_eval(raw)


def make_streaming_listener(stats: Stats):
    """StreamingQueryListener folding per-batch observed metrics, source
    offset tallies and sink progress into ``stats`` (the A1 accumulation
    across micro-batches).

    Assigning ``listener.query_id`` scopes the listener to ONE query:
    listeners receive events for EVERY query on the shared session, and
    two pipelines use the same observation names, so an unscoped
    listener double-counts the other pipeline's consume/forwarded and
    folds foreign sink rows into ``publish``. The id isn't known until
    ``.start()`` returns, so the caller assigns it right after start
    (streaming/job.py does); events arriving while it is None are
    counted unscoped — progress events only fire after a completed
    batch, so the post-start assignment wins that race in practice."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StatsListener(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.query_id = None

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            prog = event.progress
            if self.query_id is not None and str(prog.id) != str(self.query_id):
                return
            row = (prog.observedMetrics or {}).get(OBS_COUNTERS)
            if row is not None:
                stats.merge_observation(row.asDict())
            # a source offset key named as a counter is a cumulative
            # tally (the firehose reader's): add what it grew by
            for src in prog.sources:
                start, end = _offset(src.startOffset), _offset(src.endOffset)
                stats.merge_observation(
                    {k: end[k] - start.get(k, 0) for k in end.keys() & _STATS_KEYS}
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
