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
  reference's channel-buffer tuning, kafka.go:24-25)
- ``filterType``  server-side event filter (SRC3): ``logs`` or
  ``metrics``, appended to the websocket URL as ``filter-type=...``
  exactly like noaa (noaa/consumer/filter.go:3-20, firehose.go:42-44);
  also enforced client-side so fixture mode honors it
- ``retryDelaySeconds``  initial reconnect backoff; doubles per failure
  up to 60 s (noaa async.go:21-23 DefaultMinRetryDelay/MaxRetryDelay)
- ``fixtureRows``  TEST MODE: emit N deterministic canonical envelopes
  per batch instead of connecting (keeps CI network-free; live mode
  uses the hand-rolled stdlib RFC 6455 client in rfc6455.py — no
  third-party websocket package required). The envelopes are encoded
  to wire frames and decoded like live traffic.

``read()`` hands Spark one Arrow batch per micro-batch, built by
``wire_batch.decode_frames`` — the same decode the lake path runs — in
``wire_batch.FRAME_SCHEMA``: the envelope fields plus ``_decode_error``
and ``_raw``, so a bad frame is a quarantined row, not a failed query.
``streaming.job.firehose_stream`` splits the good rows (ENVELOPE_SCHEMA)
from the bad ones (counted and logged).
"""

from __future__ import annotations

import json
import logging
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import encode_envelope
from kafka_firehose_nozzle_spark.sources.wire_batch import (
    FRAME_SCHEMA,
    decode_frames,
)

_ARROW_SCHEMA = to_arrow_schema(FRAME_SCHEMA)

DEFAULT_IDLE_TIMEOUT = 60  # cli.go:50
DEFAULT_RETRY_COUNT = 5  # cli.go:53
DEFAULT_UAA_TIMEOUT = 20  # cli.go:42
DEFAULT_MAX_BATCH_ROWS = 10_000
DEFAULT_MIN_RETRY_DELAY = 0.5  # noaa async.go:21 DefaultMinRetryDelay
DEFAULT_MAX_RETRY_DELAY = 60.0  # noaa async.go:22 DefaultMaxRetryDelay


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
    if not uaa_addr:
        raise ValueError("UaaAddr must not be empty")
    if not username:
        raise ValueError("Username must not be empty")
    if not password:
        raise ValueError("Password must not be empty")

    import base64
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


# filterType -> allowed eventType set (noaa filter.go:3-20 semantics:
# logs = LogMessage only; metrics = the three metric envelope types)
FILTER_EVENT_TYPES = {
    "logs": frozenset({schemas.LOG_MESSAGE}),
    "metrics": frozenset(
        {schemas.VALUE_METRIC, schemas.COUNTER_EVENT, schemas.CONTAINER_METRIC}
    ),
}


def firehose_url(
    doppler_addr: str, subscription_id: str, filter_type: str = ""
) -> str:
    """wss URL for the firehose endpoint (noaa firehose.go:42-44), with
    the optional server-side filter-type query param (filter.go:11-19)."""
    url = f"{doppler_addr.rstrip('/')}/firehose/{subscription_id}"
    if filter_type:
        url += f"?filter-type={filter_type}"
    return url


class FirehoseStreamReader(SimpleDataSourceStreamReader):
    """Driver-side reader. Offsets are a monotonically increasing record
    counter; SimpleDataSourceStreamReader caches read batches until the
    checkpoint commits, giving at-least-once over the non-replayable
    socket (stronger than the reference's drop-on-overflow, ST1)."""

    def __init__(self, options: dict) -> None:
        self.options = options
        self.max_batch = int(options.get("maxBatchRows", DEFAULT_MAX_BATCH_ROWS))
        self.fixture_rows = int(options.get("fixtureRows", 0))
        self.filter_type = options.get("filterType", "")
        if self.filter_type and self.filter_type not in FILTER_EVENT_TYPES:
            raise ValueError(
                f"filterType must be 'logs' or 'metrics', got "
                f"{self.filter_type!r}"
            )
        # client-side guard; live connections ALSO push the filter to the
        # server via the filter-type query param (noaa filter.go:11-19)
        self._allowed = FILTER_EVENT_TYPES.get(self.filter_type)
        self._conn = None
        self._token = options.get("token", "")
        # live-restart replay loss tally (ADVICE: the reference counts
        # its drops, kafka.go:272; unobservable loss is not parity)
        self.dropped_replay_rows = 0
        # connection-level SlowConsumerAlert tally: go-nozzle's detector
        # raises the alert when the server closes 1008
        # (detector.go:71-99, websocket.ClosePolicyViolation)
        self.slow_consumer_close_alerts = 0
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
        import time

        if self._retries_left <= 0:
            raise RuntimeError(
                "maximum number of connection retries reached"
            )
        self._retries_left -= 1
        logging.getLogger("kafka_firehose_nozzle_spark").warning(
            "firehose connection error: %s. Retrying... "
            "(%d attempt(s) left, backoff %.2fs)",
            reason,
            self._retries_left,
            self._retry_sleep,
        )
        time.sleep(self._retry_sleep)
        self._retry_sleep = min(self._retry_sleep * 2, DEFAULT_MAX_RETRY_DELAY)

    def _drop_connection(self) -> None:
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
        url = firehose_url(
            doppler, self.options["subscriptionID"], self.filter_type
        )
        ssl_context = None
        if url.startswith("wss"):
            import ssl

            ssl_context = (
                ssl._create_unverified_context()
                if self.options.get("insecureSSLSkipVerify", "false") == "true"
                else ssl.create_default_context()
            )
        open_timeout = float(
            self.options.get("idleTimeout", DEFAULT_IDLE_TIMEOUT)
        )
        if not self._token:
            # config VALIDATION is fatal and happens ONCE, outside the
            # retry loop (token.go:69-83) — so that inside the loop any
            # ValueError from the fetch is a transient body-parse
            # failure, not a misconfiguration
            if not self.options.get("uaaAddress", ""):
                raise ValueError("UaaAddr must not be empty")
            if not self.options.get("username", ""):
                raise ValueError("Username must not be empty")
            if not self.options.get("password", ""):
                raise ValueError("Password must not be empty")
        while True:
            if not self._token:
                try:
                    self._token = fetch_uaa_token(
                        self.options.get("uaaAddress", ""),
                        self.options.get("username", ""),
                        self.options.get("password", ""),
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
                    timeout=open_timeout,
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

    def _kept(self, batch) -> Iterator:
        """``batch`` as an iterator of at most one batch, without the
        rows ``filterType`` excludes. Empty when no row is left: Spark
        rejects a non-empty result whose offset did not advance."""
        if self._allowed is not None:
            # belt over the server-side filter; quarantined rows stay so
            # they are still counted
            batch = batch.filter(
                pc.or_kleene(
                    pc.is_in(
                        batch.column("eventType"),
                        value_set=pa.array(sorted(self._allowed), pa.int32()),
                    ),
                    pc.is_valid(batch.column("_decode_error")),
                )
            )
        return iter([batch] if batch.num_rows else [])

    def _recv_frames(self, conn) -> Iterator[bytes]:
        """Frames off the socket until the batch is full or the socket
        goes quiet, fails or closes."""
        from kafka_firehose_nozzle_spark.sources import rfc6455

        idle = float(self.options.get("idleTimeout", DEFAULT_IDLE_TIMEOUT))
        for n_read in range(self.max_batch):
            try:
                # quick drain once the batch has frames; full idle wait
                # only while empty (the stdlib analog of gorilla's
                # per-read deadline, noaa async.go:255-257)
                msg = conn.recv(timeout=0.05 if n_read else idle)
            except TimeoutError:
                if not n_read:
                    # a full idleTimeout with zero messages means the
                    # connection is dead (ST5; noaa returns a retry
                    # error on the read deadline, async.go:266-268) —
                    # drop it and spend a reconnect attempt; the next
                    # micro-batch redials
                    self._drop_connection()
                    self._spend_retry(f"idle timeout after {idle}s")
                return
            except rfc6455.WSClosed as e:
                if e.code == rfc6455.CLOSE_POLICY_VIOLATION:
                    # go-nozzle detector.go:71-99: ClosePolicyViolation
                    # (1008) = server dropped us for being too slow
                    self.slow_consumer_close_alerts += 1
                    logging.getLogger(
                        "kafka_firehose_nozzle_spark"
                    ).warning(
                        "websocket terminates the connection because "
                        "connection is too slow (ClosePolicyViolation)"
                    )
                self._drop_connection()
                self._spend_retry(f"connection closed ({e.code} {e.reason})")
                return
            except (rfc6455.WSError, OSError) as e:
                self._drop_connection()
                self._spend_retry(str(e))
                return
            yield msg

    def read(self, start: dict) -> tuple[Iterator, dict]:
        n = start["n"]
        if self.fixture_rows:
            frames = self._fixture_frames(n, self.fixture_rows)
        else:
            frames = self._recv_frames(self._connect())
        # one row per frame consumed, good or bad
        batch = decode_frames(frames, _ARROW_SCHEMA)
        return self._kept(batch), {"n": n + batch.num_rows}

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
        than losing it unobservably."""
        n, n_end = start["n"], end["n"]
        if self.fixture_rows:
            frames = self._fixture_frames(n, n_end - n)
            return self._kept(decode_frames(frames, _ARROW_SCHEMA))
        lost = max(0, n_end - n)
        self.dropped_replay_rows += lost
        logging.getLogger("kafka_firehose_nozzle_spark").warning(
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
        return FRAME_SCHEMA

    def simpleStreamReader(self, schema) -> FirehoseStreamReader:
        return FirehoseStreamReader(self.options)
