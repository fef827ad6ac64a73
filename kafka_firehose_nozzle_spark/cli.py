"""CLI entrypoint (reference CLI.Run, cli.go:73-376).

Flag > config file > default precedence replicated from cli.go:157-179;
defaults from cli.go:29-58. ``$UAA_PASSWORD`` feeds -password
(cli.go:57,101).

Usage:
    python -m kafka_firehose_nozzle_spark.cli --config nozzle.toml \
        [--subscription ID] [--username U] [--password P] \
        [--debug] [--server] [--stats-interval N] [--worker N]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

from kafka_firehose_nozzle_spark.config import (
    DEFAULT_IDLE_TIMEOUT,
    DEFAULT_RETRY_COUNT,
    LOG_FORMAT,
    Config,
    load_config,
)

DEFAULT_CFG_PATH = "example/kafka-firehose-nozzle.toml"  # cli.go:31
DEFAULT_STATS_INTERVAL = 10  # seconds, cli.go:35
DEFAULT_USERNAME = "admin"  # cli.go:38
DEFAULT_SUBSCRIPTION_ID = "debug-kafka-firehose-nozzle"  # cli.go:46
ENV_PASSWORD = "UAA_PASSWORD"  # cli.go:57

EXIT_OK = 0
EXIT_ERROR = 1


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kafka-firehose-nozzle-spark",
        description="Forward CloudFoundry firehose events to Kafka (PySpark)",
    )
    p.add_argument("--config", default=DEFAULT_CFG_PATH)
    p.add_argument("--subscription", default="")
    p.add_argument("--username", default="")
    p.add_argument("--password", default=os.environ.get(ENV_PASSWORD, ""))
    p.add_argument("--log-level", default="INFO")
    p.add_argument("--worker", type=int, default=os.cpu_count())
    p.add_argument("--stats-interval", type=int, default=DEFAULT_STATS_INTERVAL)
    p.add_argument("--server", action="store_true")
    p.add_argument("--debug", action="store_true")
    p.add_argument("--version", action="store_true")
    p.add_argument("--checkpoint", default="")
    return p


def setup_logging(level_str: str) -> int:
    """Apply the -log-level filter to the nozzle's own logger (the
    reference wraps its log output in a logutils LevelFilter,
    cli.go:181-189; Spark's JVM logging stays at the session default).
    Unknown levels fall back to INFO, matching logutils' permissive
    behavior. Returns the applied numeric level."""
    import logging

    level = getattr(logging, level_str.upper(), None)
    if not isinstance(level, int):
        level = logging.INFO
    logging.basicConfig(
        level=level,
        stream=sys.stderr,
        format=LOG_FORMAT,
    )
    logging.getLogger("kafka_firehose_nozzle_spark").setLevel(level)
    return level


def resolve_config(args: argparse.Namespace) -> Config:
    """Apply flag > config > default precedence (cli.go:157-179)."""
    config = load_config(args.config)

    if args.subscription:
        config.subscription_id = args.subscription
    elif not config.subscription_id:
        config.subscription_id = DEFAULT_SUBSCRIPTION_ID

    if args.username:
        config.cf.username = args.username
    elif not config.cf.username:
        config.cf.username = DEFAULT_USERNAME

    if args.password:
        config.cf.password = args.password

    if config.cf.idle_timeout == 0:
        config.cf.idle_timeout = DEFAULT_IDLE_TIMEOUT

    if config.cf.retry_count == 0:
        config.cf.retry_count = DEFAULT_RETRY_COUNT

    return config


def run(argv: list[str]) -> int:
    args = build_parser().parse_args(argv)

    # version short-circuits before config loading, to stderr, exit 0 —
    # the reference's exact behavior (cli.go:130-133, version.go)
    if args.version:
        from kafka_firehose_nozzle_spark import __version__

        print(
            f"kafka-firehose-nozzle-spark version {__version__}",
            file=sys.stderr,
        )
        return EXIT_OK

    setup_logging(args.log_level)

    try:
        config = resolve_config(args)
    except (OSError, ValueError) as e:
        # OSError: missing file / directory / permissions; ValueError
        # covers tomllib.TOMLDecodeError (malformed TOML) — ALL config
        # failures get the reference's clean error + exit 1
        # (cli.go:147-155), never a raw traceback
        print(f"[ERROR] Failed to load configuration file: {e}", file=sys.stderr)
        return EXIT_ERROR

    from kafka_firehose_nozzle_spark.server import start_stats_server
    from kafka_firehose_nozzle_spark.session import get_spark
    from kafka_firehose_nozzle_spark.stats import Stats
    from kafka_firehose_nozzle_spark.streaming.job import (
        firehose_stream,
        start_pipeline,
    )

    spark = get_spark("kafka-firehose-nozzle", shuffle_partitions=args.worker)
    stats = Stats()
    ticker_stop = stats.start_per_sec_ticker()

    http_server = start_stats_server(stats) if args.server else None

    # periodic stats display (cli.go:35,104: the -stats-interval ticker
    # logs the counters; previously the flag was parsed but unread)
    import logging
    import threading

    stats_stop = threading.Event()

    def _stats_loop() -> None:
        log = logging.getLogger("kafka_firehose_nozzle_spark")
        while not stats_stop.wait(max(1, args.stats_interval)):
            log.info("stats: %s", stats.to_json())

    threading.Thread(
        target=_stats_loop, name="stats-interval", daemon=True
    ).start()

    # SIGTERM (the supervisor stop signal) gets the same graceful path
    # as SIGINT: stop the query, producers flush, servers shut down —
    # the default handler would kill the process mid-batch. Only the
    # main thread may set handlers; restored on exit.
    import signal

    def _sigterm(signum, frame):
        raise KeyboardInterrupt

    old_sigterm = None
    if threading.current_thread() is threading.main_thread():
        old_sigterm = signal.signal(signal.SIGTERM, _sigterm)

    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="nozzle-ckpt-")
    exit_code = EXIT_OK
    handle = None
    # construction (stream source + pipeline start) sits INSIDE the
    # try: a failure there must take the same [ERROR]+exit-1 path and
    # the same finally-cleanup (signal handler restore, stats/HTTP
    # shutdown) as a mid-run failure — previously it escaped as a raw
    # traceback with the SIGTERM handler left installed (ADVICE r10)
    try:
        envelopes = firehose_stream(spark, config)
        sink = "console" if args.debug else "kafka"  # cli.go:222-235
        handle = start_pipeline(
            spark, envelopes, config, checkpoint, sink=sink, stats=stats
        )
        handle.query.awaitTermination()
    except KeyboardInterrupt:  # SIGINT/SIGTERM, cli.go:328-334
        pass
    except Exception as e:
        # a permanently-failed stream (e.g. retry budget exhausted)
        # surfaces as the reference's [ERROR] + exit 1, not a traceback
        print(f"[ERROR] {e}", file=sys.stderr)
        exit_code = EXIT_ERROR
    finally:
        if handle is not None:
            handle.stop()
        stats_stop.set()
        ticker_stop.set()
        if http_server:
            http_server.shutdown()
        if old_sigterm is not None:
            signal.signal(signal.SIGTERM, old_sigterm)
    return exit_code


def main() -> None:
    raise SystemExit(run(sys.argv[1:]))


if __name__ == "__main__":
    main()
