"""Seeded firehose envelopes, shared by the load generator and the output
checks so both sides see exactly the same inputs for a given seed.

Type mix follows FIXTURES.md section 6: log 70 %, http 10 %, valueMetric
10 %, counterEvent 5 %, containerMetric 4 %, and 1 % split between error,
an unknown event type and the doppler slow-consumer counter. Log messages
carry one of 100 app ids, so the templated log topic fans out over 100
topics, and vary in length: log-normal with median e^4.5 = 90 B, cut to
1 B .. 4 KiB. That length distribution is an assumption, not fitted to
measured Cloud Foundry traffic; FIXTURES.md gives the type mix only.
"""

from __future__ import annotations

import random
import uuid

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import Config, KafkaConfig, TopicConfig
from kafka_firehose_nozzle_spark.fixtures import TEST_TS, canonical_envelopes

# Live session sizes. The paced rate is about a third of the flood drain
# rate measured on a 4-core host; the measured session sends PACED_RATE
# paced and FLOOD_PER_S flood frames per second of --seconds. The
# warm-up frames go first, back to back, so the paced and flood parts
# run on a JVM and Python worker past their first batches.
PACED_RATE = 3000
FLOOD_PER_S = 6000
WARMUP_FRAMES = 20_000
# the measured session's parts in the order sent, each with its rate in
# frames/s (0: back to back)
MEASURED_PARTS = (("warmup", 0.0), ("paced", PACED_RATE), ("flood", 0.0))
PROBE_FRAMES = 20_000  # frames of the decode and direct-read probes
BURST_FRAMES = 1000  # the burst that forms a live query's first batch


def session_frames(seconds: float) -> dict:
    """Frames per generator session part. The measured session sends
    consecutive runs of ``envelopes``, one per part of MEASURED_PARTS;
    the probe session sends the first ``probe``."""
    return dict(warmup=WARMUP_FRAMES, paced=int(PACED_RATE * seconds),
                flood=int(FLOOD_PER_S * seconds), probe=PROBE_FRAMES)


# the topic set bench.py routes with, templated log topic included
TOPICS = TopicConfig(
    log_message_fmt="log-%s",
    value_metric="metric",
    container_metric="containermetric",
    http_start_stop="httpstartstop",
    counter_event="counterevent",
    error="error",
)

_TEXT = (
    "GET /v2/apps 200 OK upstream=10.0.16.4:61012 took=12ms "
    "retrying connection to backend after timeout; payload accepted "
) * 80


def config(doppler_address: str = "", subscription_id: str = "") -> Config:
    """The nozzle configuration every workload runs with."""
    cfg = Config(subscription_id=subscription_id)
    cfg.cf.doppler_address = doppler_address
    cfg.cf.token = "bearer perfbench"
    cfg.kafka = KafkaConfig(brokers=["localhost:9092"], topic=TOPICS)
    return cfg


def _with(template: dict, payload: str, **fields) -> dict:
    """Copy of ``template`` with ``fields`` set in its ``payload`` struct."""
    return {**template, payload: {**template[payload], **fields}}


def envelopes(seed: int, count: int) -> list[dict]:
    """``count`` envelope dicts (fixtures.canonical_envelopes format)."""
    rng = random.Random(seed)
    log1, http1, vm1, ce1, cm1, err1, unk1, slow1 = canonical_envelopes()
    app_ids = [str(uuid.UUID(int=rng.getrandbits(128))) for _ in range(100)]
    out = []
    for i in range(count):
        r = rng.random() * 100.0
        app = app_ids[rng.randrange(100)]
        ts = TEST_TS + i * 1000
        if r < 70:
            size = min(4096, max(1, int(rng.lognormvariate(4.5, 1.0))))
            start = rng.randrange(1024)
            env = _with(
                log1,
                "logMessage",
                message=(f"{i} " + _TEXT[start : start + size]).encode(),
                app_id=app,
                timestamp=ts,
                message_type=rng.choice(
                    (schemas.MESSAGE_TYPE_OUT, schemas.MESSAGE_TYPE_ERR)
                ),
            )
        elif r < 80:
            env = _with(
                http1,
                "httpStartStop",
                startTimestamp=ts,
                stopTimestamp=ts + rng.randrange(1, 10**9),
                requestId={"low": i, "high": rng.getrandbits(63)},
                peerType=schemas.PEER_TYPE_SERVER,
                method=rng.randrange(1, 5),
                uri=f"/v2/apps/{app}/stats",
                remoteAddress="10.0.0.1",
                userAgent="perfbench",
                statusCode=rng.choice((200, 201, 404, 500)),
                contentLength=rng.randrange(1 << 20),
                instanceIndex=rng.randrange(4),
            )
        elif r < 90:
            env = _with(
                vm1,
                "valueMetric",
                name=f"metric.{rng.randrange(50)}",
                value=round(rng.random() * 1000.0, 3),
                unit="ms",
            )
        elif r < 95:
            env = _with(
                ce1,
                "counterEvent",
                name=f"counter.{rng.randrange(50)}",
                delta=rng.randrange(10),
                total=i,
            )
        elif r < 99:
            env = _with(
                cm1,
                "containerMetric",
                applicationId=app,
                instanceIndex=rng.randrange(4),
                cpuPercentage=round(rng.random() * 100.0, 2),
                memoryBytes=rng.randrange(1 << 30),
                diskBytes=rng.randrange(1 << 30),
            )
        else:
            env = dict(rng.choice((err1, unk1, slow1)))
        env["origin"] = f"origin-{rng.randrange(8)}"
        env["timestamp"] = ts
        out.append(env)
    return out
