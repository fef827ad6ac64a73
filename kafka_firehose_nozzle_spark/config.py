"""Typed configuration: TOML file -> dataclasses.

Parity with the reference's ``Config`` (reference config.go:10-80, loader
config.go:83-95, fixture fixtures/basic.toml). The same keys feed the Spark
Kafka writer options (sinks/kafka.py) and the firehose source options
(sources/firehose.py). Precedence when assembling the effective runtime
config is flag > config file > default (reference cli.go:157-179) —
implemented in cli.py.
"""

from __future__ import annotations

import os
import tomllib
from dataclasses import dataclass, field

DEFAULT_IDLE_TIMEOUT = 60  # cli.go:50
DEFAULT_RETRY_COUNT = 5  # cli.go:53
# the nozzle's log line, on the driver (cli.setup_logging) and in Spark's
# Python source worker (sources/firehose.py)
LOG_FORMAT = "%(asctime)s [%(levelname)s] %(message)s"


@dataclass
class TopicConfig:
    """Per-event-type destination topics (reference config.go:70-80).

    ``*_fmt`` variants are ``%s`` templates instantiated with the event's
    application id (reference kafka.go:183-188); only LogMessage,
    ContainerMetric and HttpStartStop have templated forms.
    """

    log_message: str = ""
    log_message_fmt: str = ""
    value_metric: str = ""
    container_metric: str = ""
    container_metric_fmt: str = ""
    http_start_stop: str = ""
    http_start_stop_fmt: str = ""
    counter_event: str = ""
    error: str = ""


@dataclass
class CFConfig:
    """CloudFoundry-side connection settings (reference config.go:17-36)."""

    doppler_address: str = ""
    uaa_address: str = ""
    username: str = ""
    password: str = ""
    token: str = ""
    idle_timeout: int = 0  # seconds; default applied in cli.py (cli.go:50)
    retry_count: int = 0  # doppler reconnect retries (cli.go:53)


@dataclass
class KafkaConfig:
    """Kafka producer settings (reference config.go:38-68)."""

    brokers: list[str] = field(default_factory=list)
    topic: TopicConfig = field(default_factory=TopicConfig)
    retry_max: int = 0
    retry_backoff_ms: int = 0
    repartition_max: int = 0
    compression: str = ""  # gzip | snappy | none
    enable_tls: bool = False
    ca_certificates: list[str] = field(default_factory=list)
    private_key: str = ""
    certificate: str = ""


@dataclass
class Config:
    """Root config (reference config.go:10-15)."""

    subscription_id: str = ""
    insecure_ssl_skip_verify: bool = False
    cf: CFConfig = field(default_factory=CFConfig)
    kafka: KafkaConfig = field(default_factory=KafkaConfig)


def load_config(path: str) -> Config:
    """Read a TOML config file (reference LoadConfig, config.go:83-95).

    Raises FileNotFoundError with "no such file" in the message for a
    missing path, matching the reference's error contract
    (config_test.go:45-50).
    """
    path = os.path.abspath(path)
    with open(path, "rb") as f:
        raw = tomllib.load(f)

    cf_raw = raw.get("cf", {})
    kafka_raw = raw.get("kafka", {})
    topic_raw = kafka_raw.get("topic", {})

    def pick(cls, d):
        names = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in d.items() if k in names})

    return Config(
        subscription_id=raw.get("subscription_id", ""),
        insecure_ssl_skip_verify=raw.get("insecure_ssl_skip_verify", False),
        cf=pick(CFConfig, cf_raw),
        # pick() covers every KafkaConfig field from the dataclass
        # definition — a hand-written per-field mapping here would
        # silently ignore the TOML key of any field added later
        kafka=pick(
            KafkaConfig, {**kafka_raw, "topic": pick(TopicConfig, topic_raw)}
        ),
    )
