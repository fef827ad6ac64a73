"""Stats HTTP endpoint (server.go:15-85) + CLI precedence (cli.go:157-179)."""

import json
import urllib.request

from kafka_firehose_nozzle_spark.cli import build_parser, resolve_config
from kafka_firehose_nozzle_spark.server import start_stats_server
from kafka_firehose_nozzle_spark.stats import Stats

TOML = """\
subscription_id = "from-config"
[cf]
username = "cfg-user"
password = "cfg-pass"
[kafka]
brokers = ["b:9092"]
"""


def test_stats_endpoint():
    stats = Stats()
    stats.inc("consume", 7)
    stats.inc("forwarded", 7)
    server = start_stats_server(stats, port=0)  # ephemeral port
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/stats/app") as r:
            body = json.loads(r.read())
        assert body["consume"] == 7
        assert body["delay"] == 7
        assert "subinupt_buffer" in body  # stats.go:64 typo preserved

        with urllib.request.urlopen(f"http://127.0.0.1:{port}/stats/runtime") as r:
            assert "max_rss_kb" in json.loads(r.read())

        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_index_and_pprof_endpoints():
    # server.go:33 registers "/", server.go:10 imports net/http/pprof
    server = start_stats_server(Stats(), port=0)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(f"{base}/") as r:
            assert r.headers["Content-Type"] == "text/html"
            body = r.read().decode()
        for link in ("/stats/runtime", "/stats/app", "/debug/pprof/"):
            assert link in body  # server.go:53-58 link list

        with urllib.request.urlopen(f"{base}/debug/pprof/") as r:
            idx = r.read().decode()
        assert "threads" in idx and "heap" in idx

        with urllib.request.urlopen(f"{base}/debug/pprof/threads") as r:
            dump = r.read().decode()
        assert "stats-http" in dump  # the serving thread sees itself

        # first call arms tracemalloc, second returns a snapshot
        urllib.request.urlopen(f"{base}/debug/pprof/heap").read()
        with urllib.request.urlopen(f"{base}/debug/pprof/heap") as r:
            heap = r.read().decode()
        assert "traced_current=" in heap
    finally:
        server.shutdown()
        import tracemalloc

        tracemalloc.stop()


def _resolve(tmp_path, argv):
    p = tmp_path / "c.toml"
    p.write_text(TOML)
    args = build_parser().parse_args(["--config", str(p), *argv])
    return resolve_config(args)


def test_log_level_mapping():
    import logging

    from kafka_firehose_nozzle_spark.cli import setup_logging

    assert setup_logging("DEBUG") == logging.DEBUG
    assert setup_logging("warn") == logging.WARN
    assert setup_logging("bogus") == logging.INFO  # logutils-permissive
    assert (
        logging.getLogger("kafka_firehose_nozzle_spark").level == logging.INFO
    )


def test_version_flag_short_circuits(capsys):
    # cli.go:130-133: -version prints to stderr and exits 0 BEFORE any
    # config loading (no config file needed)
    from kafka_firehose_nozzle_spark.cli import run

    assert run(["--version", "--config", "/nonexistent.toml"]) == 0
    err = capsys.readouterr().err
    assert "kafka-firehose-nozzle-spark version" in err


def test_flag_overrides_config(tmp_path):
    c = _resolve(tmp_path, ["--subscription", "from-flag", "--username", "flag-user"])
    assert c.subscription_id == "from-flag"
    assert c.cf.username == "flag-user"


def test_config_wins_over_default(tmp_path):
    c = _resolve(tmp_path, [])
    assert c.subscription_id == "from-config"
    assert c.cf.username == "cfg-user"
    assert c.cf.password == "cfg-pass"


def test_defaults_applied(tmp_path):
    p = tmp_path / "empty.toml"
    p.write_text('[kafka]\nbrokers=["b:9092"]\n')
    args = build_parser().parse_args(["--config", str(p)])
    c = resolve_config(args)
    assert c.subscription_id == "debug-kafka-firehose-nozzle"  # cli.go:46
    assert c.cf.username == "admin"  # cli.go:38
    assert c.cf.idle_timeout == 60  # cli.go:50
    assert c.cf.retry_count == 5  # cli.go:53


def test_env_password(tmp_path, monkeypatch):
    monkeypatch.setenv("UAA_PASSWORD", "env-secret")
    p = tmp_path / "c.toml"
    p.write_text('[kafka]\nbrokers=["b:9092"]\n')
    args = build_parser().parse_args(["--config", str(p)])
    c = resolve_config(args)
    assert c.cf.password == "env-secret"


def test_stats_endpoint_ignores_query_string():
    """Route on the PATH only (Go's ServeMux matches r.URL.Path): a
    scraper's cache-busting query param must not 404."""
    import json as _json
    import urllib.request

    from kafka_firehose_nozzle_spark.stats import Stats

    server = start_stats_server(Stats(), port=0)
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/stats/app?_=1692190000"
        ) as r:
            assert r.status == 200
            assert "consume" in _json.loads(r.read())
    finally:
        server.shutdown()


def test_malformed_config_clean_error(tmp_path, capsys):
    """Malformed TOML (and unreadable paths generally) get the
    reference's '[ERROR] Failed to load configuration file' + exit 1
    (cli.go:147-155) — never a raw traceback."""
    from kafka_firehose_nozzle_spark.cli import EXIT_ERROR, run

    bad = tmp_path / "bad.toml"
    bad.write_text("[kafka\nbrokers = not-valid")
    assert run(["--config", str(bad)]) == EXIT_ERROR
    assert "Failed to load configuration file" in capsys.readouterr().err

    isdir = tmp_path / "confdir"
    isdir.mkdir()
    assert run(["--config", str(isdir)]) == EXIT_ERROR
    assert "Failed to load configuration file" in capsys.readouterr().err


def test_streaming_listener_scoped_to_query_id():
    """The stats listener must ignore progress events from OTHER
    queries on the shared session — both pipelines use the same
    observation names, so an unscoped listener double-counts."""
    from types import SimpleNamespace

    from kafka_firehose_nozzle_spark.stats import Stats, make_streaming_listener

    stats = Stats()
    listener = make_streaming_listener(stats)
    listener.query_id = "q-mine"

    def progress_event(qid, rows):
        return SimpleNamespace(
            progress=SimpleNamespace(
                id=qid,
                observedMetrics={},
                sink=SimpleNamespace(numOutputRows=rows),
                sources=[],
            )
        )

    listener.onQueryProgress(progress_event("q-other", 100))
    assert stats.get("publish") == 0  # foreign query ignored
    listener.onQueryProgress(progress_event("q-mine", 7))
    assert stats.get("publish") == 7
    # unscoped (query_id None) keeps the count-everything behavior
    unscoped = make_streaming_listener(Stats())
    assert unscoped.query_id is None


def test_null_event_type_lands_in_consume_unknown(spark):
    """A NULL eventType row must count in consume_unknown, not vanish:
    ~NULL.isin(...) is NULL and count skips it, which broke the
    reference invariant consume == sum(per-type) + unknown."""
    from kafka_firehose_nozzle_spark.stats import counters

    df = spark.createDataFrame(
        [(None, "o", None, None), (4, "o", None, None), (999, "o", None, None)],
        "eventType int, origin string, counterEvent struct<name:string>, "
        "topic string",
    )
    got = df.agg(*counters(df)).first()
    assert got["consume"] == 3
    assert got["consume_http_start_stop"] == 1
    assert got["consume_unknown"] == 2  # the NULL row AND the 999 row


def test_construction_failure_takes_error_path_and_cleans_up(
    tmp_path, capsys, monkeypatch
):
    """A failure while CONSTRUCTING the stream (firehose_stream /
    start_pipeline — e.g. an unreachable doppler at first connect) must
    take the same [ERROR]+exit-1 path and the same finally-cleanup as a
    mid-run failure: previously it escaped run() as a raw traceback
    with the SIGTERM handler still installed (ADVICE r10)."""
    import signal

    from kafka_firehose_nozzle_spark import streaming as _s  # noqa: F401
    from kafka_firehose_nozzle_spark.cli import EXIT_ERROR, run
    import kafka_firehose_nozzle_spark.streaming.job as jobmod

    def boom(*a, **kw):
        raise RuntimeError("doppler unreachable at construction")

    monkeypatch.setattr(jobmod, "firehose_stream", boom)
    p = tmp_path / "c.toml"
    p.write_text('[kafka]\nbrokers=["b:9092"]\n')

    before = signal.getsignal(signal.SIGTERM)
    assert run(["--config", str(p)]) == EXIT_ERROR
    assert "[ERROR] doppler unreachable at construction" in capsys.readouterr().err
    # no traceback escaped, and the finally block restored the handler
    assert signal.getsignal(signal.SIGTERM) is before
