"""Kafka sink configuration (K1-K5; reference NewKafkaProducer,
kafka.go:28-139).

Spark's built-in kafka sink already provides the reference's core
behaviors declaratively:

- per-row topic routing: a ``topic`` column in the output DataFrame (K1)
- round-robin spreading: null message key -> sticky/round-robin
  partitioner (K2; kafka.go:70 — ordering deliberately not preserved)
- compression (K3), acks=all (kafka.go:72), retries/backoff
- TLS client auth (K4; kafka.go:33-68)
- delivery: checkpointed at-least-once replay replaces the reference's
  bounded retry buffer (K5, kafka.go:230-275) — strictly stronger: the
  reference drops messages on retry exhaustion (stats.go:57-58), the
  Spark engine never does. Intentional semantic upgrade (SURVEY.md §7).

Validation semantics (error messages included) mirror kafka.go:33-107.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_firehose_nozzle_spark.config import Config

DEFAULT_RETRY_MAX = 1  # kafka.go:21
DEFAULT_RETRY_BACKOFF_MS = 100  # kafka.go:22

_COMPRESSION = {"gzip": "gzip", "snappy": "snappy", "none": None, "": None}


def _pem_has_cert(pem: str) -> bool:
    return "-----BEGIN" in pem and "-----END" in pem


def kafka_sink_options(config: Config) -> dict[str, str]:
    """Build writer options from the TOML config.

    Raises ValueError with the reference's error wording for invalid
    compression (kafka.go:100), missing brokers (kafka.go:106), and
    incomplete TLS configuration (kafka.go:34-39).
    """
    kafka = config.kafka
    if len(kafka.brokers) < 1:
        raise ValueError("brokers are not provided")

    opts: dict[str, str] = {
        "kafka.bootstrap.servers": ",".join(kafka.brokers),
        "kafka.acks": "all",  # WaitForAll, kafka.go:72
    }

    if kafka.compression not in _COMPRESSION:
        raise ValueError(f"unknown compression codec: {kafka.compression}")
    codec = _COMPRESSION[kafka.compression]
    if codec:
        opts["kafka.compression.type"] = codec

    # 0 means UNSET, deliberately: the reference's Go config has no
    # absent-vs-zero distinction either (TOML ints default to the zero
    # value, kafka.go:21-22 then substitutes the defaults), so
    # "explicitly zero retries" is not expressible there and is not
    # expressible here — parity, not an oversight
    retry_max = kafka.retry_max or DEFAULT_RETRY_MAX
    backoff = kafka.retry_backoff_ms or DEFAULT_RETRY_BACKOFF_MS
    opts["kafka.retries"] = str(retry_max)
    opts["kafka.retry.backoff.ms"] = str(backoff)

    if kafka.enable_tls:
        if not kafka.certificate:
            raise ValueError("please specify client_certificate")
        if not kafka.private_key:
            raise ValueError("please specify private_key")
        if not _pem_has_cert(kafka.certificate):
            raise ValueError("invalid client certificate PEM")
        if not _pem_has_cert(kafka.private_key):
            raise ValueError("invalid private key PEM")
        for ca in kafka.ca_certificates:
            if not _pem_has_cert(ca):
                raise ValueError("no certs in ca pem")
        opts["kafka.security.protocol"] = "SSL"
        # the kafka client consumes PEM strings directly
        opts["kafka.ssl.keystore.type"] = "PEM"
        opts["kafka.ssl.truststore.type"] = "PEM"
        opts["kafka.ssl.keystore.certificate.chain"] = kafka.certificate
        opts["kafka.ssl.keystore.key"] = kafka.private_key
        if kafka.ca_certificates:
            opts["kafka.ssl.truststore.certificates"] = "\n".join(
                kafka.ca_certificates
            )
    return opts


def ssl_context_from_options(opts: dict[str, str]):
    """Materialize the ``kafka.ssl.*`` PEM options into a real client
    TLS context — the same construction the reference performs in Go
    (kafka.go:33-68 builds a tls.Config from client cert, key, and CA
    pool; sarama hands it to the dialer).

    The JVM Kafka client consumes these options natively; this builder
    exists so the option wiring can be proven against an ACTUAL
    stdlib-``ssl`` handshake (tls_test.go:18-248 parity: its four
    failure modes + success run on live loopback sockets), not just
    string-mapped. Semantics match the Kafka client's defaults:

    - no ``truststore.certificates`` -> system CAs (the reference's
      'Fail with system CAs' case for a self-signed broker)
    - ``keystore.certificate.chain`` + ``keystore.key`` -> client
      identity for mutual TLS
    - hostname verification ON (Kafka's default
      ssl.endpoint.identification.algorithm=https)
    """
    import ssl
    import tempfile

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    ctx.verify_mode = ssl.CERT_REQUIRED
    ctx.check_hostname = True
    ca = opts.get("kafka.ssl.truststore.certificates")
    if ca:
        ctx.load_verify_locations(cadata=ca)
    else:
        ctx.load_default_certs()
    cert = opts.get("kafka.ssl.keystore.certificate.chain")
    key = opts.get("kafka.ssl.keystore.key")
    if cert and key:
        # ssl.load_cert_chain takes file paths only
        with tempfile.NamedTemporaryFile(
            "w", suffix=".pem", delete=False
        ) as cf, tempfile.NamedTemporaryFile(
            "w", suffix=".pem", delete=False
        ) as kf:
            cf.write(cert)
            kf.write(key)
        try:
            ctx.load_cert_chain(cf.name, kf.name)
        finally:
            import os

            os.unlink(cf.name)
            os.unlink(kf.name)
    return ctx


def write_stream_kafka(routed: DataFrame, config: Config, checkpoint: str):
    """Start the streaming kafka write. ``routed`` must carry (topic,
    value) — the topic column routes per-row (K1); no key column keeps
    the round-robin spread (K2)."""
    writer = (
        routed.writeStream.format("kafka")
        .options(**kafka_sink_options(config))
        .option("checkpointLocation", checkpoint)
    )
    return writer.start()

