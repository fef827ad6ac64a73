"""Firehose streaming source: a Spark 4 Python DataSource (SRC1/SRC2).

The reference consumes CloudFoundry's firehose over a websocket
(go-nozzle consumer.go:126-156; path /firehose/<subscription_id> built in
noaa firehose.go:42-44) after fetching a UAA OAuth token
(go-nozzle token.go:37-66). The stream is NOT replayable — go-nozzle just
reads the socket. Spark mapping: ``SimpleDataSourceStreamReader``, whose
contract (driver-side prefetch + cache until commit) is exactly what a
non-replayable socket needs for at-least-once micro-batching.

Source options (all strings, per the DataSource API):

- ``dopplerAddress``  wss:// endpoint (config.go:21)
- ``subscriptionID``  firehose subscription/consumer group (config.go:11)
- ``uaaAddress`` / ``username`` / ``password`` / ``token``  auth
  (config.go:24-29); explicit token wins, like go-nozzle nozzle.go:112-138
- ``insecureSSLSkipVerify``  (config.go:12)
- ``idleTimeout``  seconds without a message -> connection dead
  (ST5; cli.go:50, default 60)
- ``retryCount``  reconnect budget before the stream errors
  (ST4; cli.go:53, default 5)
- ``maxBatchRows``  cap per micro-batch (backpressure, replaces the
  reference's channel-buffer tuning, kafka.go:24-25). A live
  connection has a pump thread that receives and decodes frames into a
  queue of at most 2 x ``maxBatchRows`` rows while Spark processes the
  last batch (go-nozzle's reader goroutine feeding ``eventCh``); a full
  queue stops ``recv``, so TCP backpressure and the server's
  slow-consumer close still apply. A batch does not wait to fill the
  cap: after its first frame was received it waits at most
  ``BATCH_WAIT`` (50 ms) for more, then takes only what is queued. A
  flood fills batches to the cap; a steady stream's batch holds what
  arrived since the last one. Queued rows not yet read are
  lost on a crash, like frames in the kernel's socket buffer.
- ``retryDelaySeconds``  initial reconnect backoff; doubles per failure
  up to 60 s (noaa async.go:21-23 DefaultMinRetryDelay/MaxRetryDelay)
- ``fixtureRows``  TEST MODE: emit N deterministic canonical envelopes
  per batch instead of connecting (keeps CI network-free; live mode
  uses the hand-rolled stdlib RFC 6455 client in rfc6455.py — no
  third-party websocket package required). The envelopes are encoded
  to wire frames and decoded like live traffic. A fixture stream never
  runs dry: every ``latestOffset`` offers N more rows, so
  ``query.processAllAvailable()`` never returns on it. Bound a fixture
  query with ``trigger(availableNow=True)`` or wait for a row count.
- ``logLevel``  numeric level of the nozzle's logger in the reader's
  process. ``streaming.job.firehose_stream`` passes the driver logger's
  level (``-log-level``), since Spark runs the reader in a Python
  worker that the driver's logging setup does not reach; there the
  reader also adds a stderr handler in ``config.LOG_FORMAT``, unless
  the process has one configured already.

``read()`` joins the pump's chunks, each built by
``wire_batch.decode_frames`` in ``wire_batch.FRAME_SCHEMA`` (the
envelope fields plus ``_decode_error`` and ``_raw``), into one Arrow
batch, and splits the quarantined rows off it: each bad frame is logged
at WARN with its raw bytes (base64), and Spark gets the good rows'
envelope columns only (``SOURCE_SCHEMA``). A bad frame is a counted
drop, not a failed query.

The offset is ``{"n": frames consumed, good or bad}`` plus the reader's
cumulative tallies, each present once nonzero and carried over from the
batch's start offset, so a restart keeps them: ``consume_fail`` (bad
frames, go-nozzle's ConsumeFail) and ``slow_consumer_alert`` (1008
closes, detector.go:71-99). Spark writes the offset to its offset log
and reports it in ``progress.sources[].endOffset``, where the stats
listener (stats.py) adds what each tally grew by to ``Stats``.
"""

from __future__ import annotations

import base64
import json
import logging
import threading
import time
from collections import deque
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import (
    DEFAULT_IDLE_TIMEOUT,
    DEFAULT_RETRY_COUNT,
    LOG_FORMAT,
)
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import encode_envelope
from kafka_firehose_nozzle_spark.sources.wire_batch import (
    FRAME_SCHEMA,
    decode_frames,
)

DEFAULT_UAA_TIMEOUT = 20  # cli.go:42
DEFAULT_MAX_BATCH_ROWS = 10_000
DEFAULT_MIN_RETRY_DELAY = 0.5  # noaa async.go:21 DefaultMinRetryDelay
DEFAULT_MAX_RETRY_DELAY = 60.0  # noaa async.go:22 DefaultMaxRetryDelay
# how long a live batch keeps waiting for frames after its first one
BATCH_WAIT = 0.05
# how long the pump keeps receiving after a chunk's first frame: spreads
# decode_frames' fixed cost per call (about 0.3 ms) over a few ms of
# frames, well inside BATCH_WAIT
CHUNK_WAIT = 0.005
# the envelope columns of FRAME_SCHEMA (every field nullable): what the
# reader hands Spark once the quarantine columns are split off
SOURCE_SCHEMA = T.StructType(FRAME_SCHEMA.fields[: len(schemas.ENVELOPE_SCHEMA)])
# the reader's tallies its offset carries, named as their Stats counters
TALLIES = ("consume_fail", "slow_consumer_alert")

log = logging.getLogger("kafka_firehose_nozzle_spark")


def _setup_logging(level: str | None) -> None:
    """Give the reader's process the driver's log level and line format
    (see the ``logLevel`` option); a handler the process already has is
    left to do the formatting."""
    if level:
        log.setLevel(int(level))
    if not log.hasHandlers():
        handler = logging.StreamHandler()
        handler.setFormatter(logging.Formatter(LOG_FORMAT))
        log.addHandler(handler)


def _check_uaa_credentials(uaa_addr: str, username: str, password: str) -> None:
    """The UAA settings a token fetch needs; errors match token.go:69-83."""
    if not uaa_addr:
        raise ValueError("UaaAddr must not be empty")
    if not username:
        raise ValueError("Username must not be empty")
    if not password:
        raise ValueError("Password must not be empty")


def fetch_uaa_token(
    uaa_addr: str,
    username: str,
    password: str,
    insecure: bool = False,
    timeout: int = DEFAULT_UAA_TIMEOUT,
) -> str:
    """OAuth password-grant against UAA (go-nozzle token.go:37-66; uaago's
    GetAuthToken uses the ``cf`` client with an empty secret).

    Validation errors match token.go:69-83.
    """
    _check_uaa_credentials(uaa_addr, username, password)

    import ssl
    import urllib.parse
    import urllib.request

    data = urllib.parse.urlencode(
        {
            "grant_type": "password",
            "username": username,
            "password": password,
            "response_type": "token",
        }
    ).encode()
    req = urllib.request.Request(
        f"{uaa_addr.rstrip('/')}/oauth/token",
        data=data,
        headers={
            # uaago authenticates as the public "cf" client
            "Authorization": "Basic "
            + base64.b64encode(b"cf:").decode(),
            "Content-Type": "application/x-www-form-urlencoded",
        },
    )
    ctx = ssl._create_unverified_context() if insecure else None
    with urllib.request.urlopen(req, timeout=timeout, context=ctx) as resp:
        body = json.loads(resp.read())
    return f"{body['token_type']} {body['access_token']}"


def firehose_url(doppler_addr: str, subscription_id: str) -> str:
    """wss URL for the firehose endpoint (noaa firehose.go:42-44). The
    reference nozzle dials it with no filter: it reads all envelopes."""
    return f"{doppler_addr.rstrip('/')}/firehose/{subscription_id}"


class _Chunks:
    """The decoded chunks one connection's pump hands to ``read()``, in
    arrival order, bounded in rows. An item is ``(batch, t_first)``, with
    ``t_first`` the ``time.monotonic()`` at which the batch's first frame
    was received, or an exception that ends the connection: the pump
    queues it last, and it stays at the head once reached."""

    def __init__(self, max_rows: int) -> None:
        self.max_rows = max_rows
        self.rows = 0
        self._items: deque = deque()
        self._closed = False
        self._cond = threading.Condition()

    def room(self) -> int:
        """Rows the pump may queue, waiting while the queue is full; 0
        once the reader has closed it."""
        with self._cond:
            while self.rows >= self.max_rows and not self._closed:
                self._cond.wait()
            return 0 if self._closed else self.max_rows - self.rows

    def put(self, item, t_first: float = 0.0) -> None:
        with self._cond:
            if isinstance(item, pa.RecordBatch):
                self.rows += item.num_rows
                item = (item, t_first)
            self._items.append(item)
            self._cond.notify_all()

    def take(self, limit: int, deadline: float | None):
        """The head item, cut to at most ``limit`` rows (the rest stays
        queued). Waits for one until ``deadline`` (monotonic; ``None``
        waits as long as it takes), then returns ``None``."""
        with self._cond:
            while not self._items:
                wait = None if deadline is None else deadline - time.monotonic()
                if wait is not None and wait <= 0:
                    return None
                self._cond.wait(wait)
            head = self._items[0]
            if isinstance(head, Exception):
                return head
            batch, t_first = head
            if batch.num_rows > limit:
                self._items[0] = (batch.slice(limit), t_first)
                batch = batch.slice(0, limit)
            else:
                self._items.popleft()
            self.rows -= batch.num_rows
            self._cond.notify_all()
            return batch, t_first

    def close(self) -> None:
        with self._cond:
            self._closed = True
            self._cond.notify_all()


class FirehoseStreamReader(SimpleDataSourceStreamReader):
    """Driver-side reader. Offsets are a monotonically increasing record
    counter; SimpleDataSourceStreamReader caches read batches until the
    checkpoint commits, giving at-least-once over the non-replayable
    socket (stronger than the reference's drop-on-overflow, ST1)."""

    def __init__(self, options: dict) -> None:
        self.options = options
        _setup_logging(options.get("logLevel"))
        self.max_batch = int(options.get("maxBatchRows", DEFAULT_MAX_BATCH_ROWS))
        self.fixture_rows = int(options.get("fixtureRows", 0))
        self.idle_timeout = float(
            options.get("idleTimeout", DEFAULT_IDLE_TIMEOUT)
        )
        self._conn = None
        # the live connection's pump queue (see _pump)
        self._chunks: _Chunks | None = None
        self._token = options.get("token", "")
        # live-restart replay loss tally (ADVICE: the reference counts
        # its drops, kafka.go:272; unobservable loss is not parity)
        self.dropped_replay_rows = 0
        # connection-level SlowConsumerAlert tally: go-nozzle's detector
        # raises the alert when the server closes 1008
        # (detector.go:71-99, websocket.ClosePolicyViolation); read()
        # folds the closes since its last offset into the next one
        self.slow_consumer_close_alerts = 0
        self._alerts_in_offset = 0
        # reconnect budget + exponential backoff (noaa retryAction,
        # async.go:315-351: sleep doubles from min to max; count resets
        # on a successful connect via the on-connect callback,
        # async.go:307-313)
        self.retry_count = int(options.get("retryCount", DEFAULT_RETRY_COUNT))
        self._min_retry_delay = float(
            options.get("retryDelaySeconds", DEFAULT_MIN_RETRY_DELAY)
        )
        self._retries_left = self.retry_count
        self._retry_sleep = self._min_retry_delay

    def initialOffset(self) -> dict:
        return {"n": 0}

    def _spend_retry(self, reason: str) -> None:
        """Burn one reconnect attempt, with noaa's doubling backoff
        (async.go:327-350). Exhausting the budget fails the stream with
        the reference's ErrMaxRetriesReached message (async.go:29)."""
        if self._retries_left <= 0:
            raise RuntimeError(
                "maximum number of connection retries reached"
            )
        self._retries_left -= 1
        log.warning(
            "firehose connection error: %s. Retrying... "
            "(%d attempt(s) left, backoff %.2fs)",
            reason,
            self._retries_left,
            self._retry_sleep,
        )
        time.sleep(self._retry_sleep)
        self._retry_sleep = min(self._retry_sleep * 2, DEFAULT_MAX_RETRY_DELAY)

    def _drop_connection(self) -> None:
        if self._chunks is not None:
            self._chunks.close()
            self._chunks = None
        if self._conn is not None:
            try:
                self._conn.close()
            except Exception:
                pass
            self._conn = None

    def _connect(self):
        """Dial the firehose with the hand-rolled RFC 6455 client
        (rfc6455.py), sending the same headers noaa dials with
        (Authorization + Origin, async.go:423). Dial failures spend the
        retry budget; a successful upgrade resets it (async.go:307-313).
        """
        if self._conn is not None:
            return self._conn
        from kafka_firehose_nozzle_spark.sources import rfc6455

        doppler = self.options["dopplerAddress"]
        url = firehose_url(doppler, self.options["subscriptionID"])
        ssl_context = None
        if url.startswith("wss"):
            import ssl

            ssl_context = (
                ssl._create_unverified_context()
                if self.options.get("insecureSSLSkipVerify", "false") == "true"
                else ssl.create_default_context()
            )
        uaa = [self.options.get(k, "") for k in ("uaaAddress", "username", "password")]
        if not self._token:
            # config VALIDATION is fatal and happens ONCE, outside the
            # retry loop (token.go:69-83) — so that inside the loop any
            # ValueError from the fetch is a transient body-parse
            # failure, not a misconfiguration
            _check_uaa_credentials(*uaa)
        while True:
            if not self._token:
                try:
                    self._token = fetch_uaa_token(
                        *uaa,
                        insecure=self.options.get(
                            "insecureSSLSkipVerify", "false"
                        )
                        == "true",
                    )
                except (OSError, ValueError, KeyError) as e:
                    # transient UAA failure — refused connection / 5xx
                    # (OSError incl. HTTPError), an LB answering 200
                    # with a non-JSON maintenance page (JSONDecodeError
                    # = ValueError), or a well-formed-but-wrong body
                    # (KeyError) — spends the retry budget with backoff
                    # like any other connect error instead of killing
                    # the stream. A bad-credential 401 from UAA is an
                    # HTTPError too: it burns the bounded budget then
                    # fails with max-retries.
                    self._spend_retry(f"UAA token fetch: {e}")
                    continue
            try:
                self._conn = rfc6455.connect(
                    url,
                    headers={"Authorization": self._token, "Origin": doppler},
                    timeout=self.idle_timeout,
                    ssl_context=ssl_context,
                )
            except (rfc6455.WSError, OSError) as e:
                # Expired token: a long-lived stream's reconnect replays
                # the cached token and Doppler answers 401. The reference
                # refreshes on 401 (noaa async.go websocketConnNewToken ->
                # go-nozzle RefreshTokenFrom), so when UAA credentials are
                # configured (no explicit ``token`` option) drop the cache
                # and refetch on the next loop turn.
                if (
                    isinstance(e, rfc6455.WSHandshakeError)
                    and e.status == 401
                    and not self.options.get("token", "")
                ):
                    self._token = ""
                self._spend_retry(str(e))
                continue
            self._retries_left = self.retry_count
            self._retry_sleep = self._min_retry_delay
            self._chunks = _Chunks(2 * self.max_batch)
            threading.Thread(
                target=self._pump,
                args=(self._conn, self._chunks),
                name="firehose-pump",
                # a simple reader gets no stop(): the socket and this
                # thread end when the source's worker process exits
                daemon=True,
            ).start()
            return self._conn

    def _fixture_frames(self, start_n: int, count: int) -> list[bytes]:
        from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes

        frames = []
        canon = canonical_envelopes()
        for i in range(count):
            r = dict(canon[(start_n + i) % len(canon)])
            r["timestamp"] = (r["timestamp"] or 0) + start_n + i
            frames.append(encode_envelope(r))
        return frames

    def _split(self, batch) -> tuple[Iterator, int]:
        """The good rows of ``batch`` in ``SOURCE_SCHEMA``, as an iterator
        of at most one batch (empty when none is left, since Spark
        rejects a non-empty result whose offset did not advance), and the
        number of quarantined rows, each logged at WARN with its error
        and raw bytes."""
        error = batch.column("_decode_error")
        bad = len(error) - error.null_count
        if bad:
            quarantined = batch.filter(error.is_valid())
            for row in quarantined.select(["_decode_error", "_raw"]).to_pylist():
                log.warning(
                    "firehose frame quarantined: %s; raw frame (base64): %r",
                    row["_decode_error"],
                    base64.b64encode(row["_raw"] or b"").decode(),
                )
            batch = batch.filter(error.is_null())
        batch = batch.select(SOURCE_SCHEMA.names)
        return iter([batch] if batch.num_rows else []), bad

    def _pump(self, conn, chunks: _Chunks) -> None:
        """Receive and decode one connection's frames into ``chunks``
        until it fails or the reader drops it; runs in its own daemon
        thread, so the socket is read while Spark runs the last batch.
        A chunk is the frames that arrive within ``CHUNK_WAIT`` of its
        first one, and never more than the queue has room for: a full
        queue stops ``recv``, leaving the backlog to TCP backpressure and
        the server's slow-consumer close, as a reader that is not called
        does. The connection's end (idle timeout, close, socket error)
        is queued behind its rows, and so is any other exception, for
        ``read()`` to act on."""
        from kafka_firehose_nozzle_spark.sources import rfc6455

        try:
            while True:
                room = chunks.room()
                if not room:
                    return  # the reader dropped the connection
                frames, fault = [], None
                try:
                    # the first frame waits up to idleTimeout: a full
                    # idleTimeout with no message means the connection
                    # is dead (ST5; noaa returns a retry error on the
                    # read deadline, async.go:266-268)
                    frames.append(conn.recv(timeout=self.idle_timeout))
                    t_first = time.monotonic()
                    deadline = t_first + CHUNK_WAIT
                    while len(frames) < room:
                        wait = deadline - time.monotonic()
                        if wait <= 0:
                            break
                        frames.append(conn.recv(timeout=wait))
                except TimeoutError as e:
                    if not frames:
                        fault = e
                except (rfc6455.WSError, OSError) as e:
                    fault = e
                if frames:
                    chunks.put(decode_frames(frames), t_first)
                if fault is not None:
                    chunks.put(fault)
                    return
        except Exception as e:  # re-raised by read(), never swallowed
            chunks.put(e)

    def _connection_lost(self, fault: Exception) -> None:
        """Act on the end of a connection the pump reported: drop it and
        spend a reconnect attempt (the next read() redials), counting a
        1008 close as a SlowConsumerAlert. Any other exception is the
        stream's failure."""
        from kafka_firehose_nozzle_spark.sources import rfc6455

        if isinstance(fault, TimeoutError):
            reason = f"idle timeout after {self.idle_timeout}s"
        elif isinstance(fault, rfc6455.WSClosed):
            if fault.code == rfc6455.CLOSE_POLICY_VIOLATION:
                # go-nozzle detector.go:71-99: ClosePolicyViolation
                # (1008) = server dropped us for being too slow
                self.slow_consumer_close_alerts += 1
                log.warning(
                    "websocket terminates the connection because "
                    "connection is too slow (ClosePolicyViolation)"
                )
            reason = f"connection closed ({fault.code} {fault.reason})"
        elif isinstance(fault, (rfc6455.WSError, OSError)):
            reason = str(fault)
        else:
            raise fault
        self._drop_connection()
        self._spend_retry(reason)

    def _take(self) -> pa.RecordBatch:
        """One batch of rows off the pump's queue. The first row waits
        for the pump (which waits up to ``idleTimeout``); the batch then
        takes what is queued until ``BATCH_WAIT`` after its first frame
        was received, and after that only what is already queued, up to
        ``maxBatchRows``. The end of the connection ends the batch."""
        chunks = self._chunks
        parts, n, deadline = [], 0, None
        while n < self.max_batch:
            item = chunks.take(self.max_batch - n, deadline)
            if item is None:
                break
            if isinstance(item, Exception):
                self._connection_lost(item)
                break
            part, t_first = item
            if deadline is None:
                deadline = t_first + BATCH_WAIT
            parts.append(part)
            n += part.num_rows
        if not parts:
            return decode_frames([])
        return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]

    def read(self, start: dict) -> tuple[Iterator, dict]:
        n = start["n"]
        if self.fixture_rows:
            batch = decode_frames(self._fixture_frames(n, self.fixture_rows))
        else:
            self._connect()
            batch = self._take()
        rows, bad = self._split(batch)
        closes = self.slow_consumer_close_alerts - self._alerts_in_offset
        self._alerts_in_offset = self.slow_consumer_close_alerts
        # one n per frame consumed, good or bad; the tallies accumulate
        # from the start offset and appear once nonzero
        end = {"n": n + batch.num_rows}
        for key, grew in zip(TALLIES, (bad, closes)):
            total = start.get(key, 0) + grew
            if total:
                end[key] = total
        return rows, end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        """Crash-recovery replay: after a restart Spark re-reads every
        batch that was planned but not yet committed (the driver-side
        prefetch cache died with the process). Fixture mode regenerates
        the exact offset range deterministically — at-least-once across
        restarts, asserted by
        tests/test_firehose_source.py::test_crash_recovery_replays_from_checkpoint.

        A live websocket cannot replay (go-nozzle just reads the socket;
        the reference DROPS on failure, kafka.go:269-271, and counts it).
        Returning the empty range reproduces that bounded, documented
        loss — only rows prefetched-but-uncommitted at crash time —
        instead of failing the restart.  The reference COUNTS those drops
        (delay counter, kafka.go:272), so the live path logs the lost
        offset range and tallies it in ``dropped_replay_rows`` rather
        than losing it unobservably.

        A crash also loses the rows the pump had queued but ``read()``
        had not yet taken: at most 2 x ``maxBatchRows``, the same window
        as frames still in the kernel's socket buffer. They never got an
        offset, so ``dropped_replay_rows`` does not count them."""
        n, n_end = start["n"], end["n"]
        if self.fixture_rows:
            frames = self._fixture_frames(n, n_end - n)
            return self._split(decode_frames(frames))[0]
        lost = max(0, n_end - n)
        self.dropped_replay_rows += lost
        log.warning(
            "firehose restart: live socket cannot replay offsets [%d, %d); "
            "dropping %d prefetched-but-uncommitted row(s) "
            "(at-least-once bound; total dropped this reader: %d)",
            n,
            n_end,
            lost,
            self.dropped_replay_rows,
        )
        return iter(())

    def commit(self, end: dict) -> None:
        pass


class FirehoseDataSource(DataSource):
    """spark.readStream.format("firehose") after
    spark.dataSource.register(FirehoseDataSource)."""

    @classmethod
    def name(cls) -> str:
        return "firehose"

    def schema(self):
        return SOURCE_SCHEMA

    def simpleStreamReader(self, schema) -> FirehoseStreamReader:
        return FirehoseStreamReader(self.options)
