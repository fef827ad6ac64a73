"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count() over the result — no driver
collect of payload rows). Timings are wall-clock per query after a shared
session warm-up.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from kafka_firehose_nozzle_spark.session import get_spark
from queries._base import _parquet_nrows, _t

# headline set: routing parity + heavy joins/aggs + dedup/similarity/text
BENCH_QUERIES = [
    "route_topics",
    "stats_counters",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "top_spenders_per_segment",
    "revenue_rollup",
    "events_per_minute",
    "sessionize_events",
    "dedup_exact",
    "minhash_signatures",
    "doc_fingerprints",
    "ann_cosine_topk",
    "embedding_dup_pairs",
    "roundtrip_route_topics",
    "bigram_topk",
    "q9_profit",
    "q18_big_orders",
    "error_prior_views",
    "dispersion_stats",
    "lsh_dup_components",
]


def _read_steal_ticks() -> tuple:
    """(steal_ticks, total_ticks) from the aggregate cpu line of
    /proc/stat — the delta across the bench run measures hypervisor
    steal DURING the measurement, the signal that explained the r4/r5/r6
    inflated driver readings."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:
        return 0, 0


def _md5_probe_sec(samples: int = 3, settle_sec: float = 0.0) -> float:
    """THE canonical single-core host-speed probe: md5 over 128 MiB of
    zeros (2048 x 64 KiB updates), min over ``samples`` runs. Pure
    C-loop inside OpenSSL — immune to Spark/JVM state, sensitive only
    to host CPU contention/steal. Readings >=2x the measured idle
    reference (below) mean the machine was hot and the Spark timings
    should be discounted proportionally rather than read as
    regressions."""
    import hashlib

    buf = b"\x00" * 65536
    best = float("inf")
    for _ in range(samples):
        if settle_sec:
            time.sleep(settle_sec)
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(2048):
            h.update(buf)
        h.hexdigest()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _md5_idle_reference_sec() -> float:
    """MEASURED idle reference for the md5 probe (VERDICT r7 item 3: the
    hard-coded 0.15 read low for this VM class — a genuinely idle run
    measured 0.20, so the `X * (ref/m)` normalization over-corrected).

    Strategy: the best single-core slice observed across a settled
    burst of 12 probes approximates the host's idle speed even when the
    machine carries load, because the scheduler hands out full
    timeslices often enough for the MIN to land in one. On a host that
    is saturated for the whole burst the min stays inflated and the
    normalization under-corrects — the conservative failure mode (a hot
    reading is then NOT discounted enough, never flattered)."""
    return _md5_probe_sec(samples=12, settle_sec=0.05)


def _drift_report(
    timings: dict,
    sf: float,
    md5_before: float,
    md5_after: float,
    steal_pct: float,
    loadavg_start: list,
) -> dict:
    """Mechanical drift tripwire (VERDICT r10 item 2): compare each
    headline query against the stored certified-idle band
    (BENCH_REFERENCE.json) and flag >threshold one-directional
    regressions — but ONLY on a calibration-clean run (md5 probe within
    2% of the idle reference, steal <0.1%, start 1-min loadavg <1).
    Three consecutive rounds spent their top verdict item hand-
    adjudicating host-load noise; a hot run now self-reports
    'calibration not clean' instead of producing numbers someone must
    A/B by hand. Returns {"calibration_clean", "flags", ...}; flags is
    non-empty only when a clean run shows real drift, so SCALE.md can
    cite the flag instead of an adjudication."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_REFERENCE.json")) as f:
            ref = json.load(f)
    except OSError:
        return {"calibration_clean": False, "not_clean_reasons": ["no reference file"], "flags": []}
    if abs(sf - ref.get("sf", 0.1)) > 1e-9:
        return {
            "calibration_clean": False,
            "not_clean_reasons": [f"sf {sf} != reference sf {ref.get('sf')}"],
            "flags": [],
        }
    reasons = []
    md5_ref = ref["md5_idle_sec"]
    if max(md5_before, md5_after) > md5_ref * 1.02:
        reasons.append(
            f"md5 probe {max(md5_before, md5_after)} > 1.02x idle ref {md5_ref}"
        )
    if steal_pct >= 0.1:
        reasons.append(f"steal {steal_pct}% >= 0.1%")
    if loadavg_start[0] >= 1.0:
        reasons.append(f"start loadavg {loadavg_start[0]} >= 1")
    clean = not reasons
    flags = []
    if clean:
        thr = ref.get("drift_threshold_pct", 20.0) / 100.0
        for name, t in timings.items():
            r = ref["queries"].get(name)
            if r and t > r * (1.0 + thr):
                flags.append(
                    {
                        "query": name,
                        "sec": t,
                        "ref_sec": r,
                        "drift_pct": round(100.0 * (t - r) / r, 1),
                    }
                )
    return {
        "calibration_clean": clean,
        "not_clean_reasons": reasons,
        "reference": f"BENCH_REFERENCE.json (r{ref.get('seeded_round')})",
        "flags": flags,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # calibration bracket (VERDICT r6 item 2): host-speed probe + load
    # BEFORE the run, steal ticks across it — emitted in the JSON so a
    # hot driver reading can be normalized mechanically.
    md5_idle_ref = _md5_idle_reference_sec()
    md5_before = _md5_probe_sec()
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    steal0, total0 = _read_steal_ticks()
    # Optional scale knobs — UNSET in the driver's per-round sf0.1 run,
    # so default behavior is untouched. For manual 4th-decade runs:
    #   SPARK_GRAFT_SHUFFLE_PARTITIONS sizes the shuffle to the SF
    #   (OPERATING.md rule: ~32*sf; 32 partitions OOM a 32 GB heap at
    #   sf100), and SPARK_GRAFT_SKIP_QUERIES excludes queries whose
    #   single-node run is journaled infeasible (the skip list is
    #   echoed in the output JSON so the record is self-documenting).
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "")
    extra_conf = (
        {"spark.sql.shuffle.partitions": shuffle_parts}
        if shuffle_parts
        else None
    )
    skip_queries = [
        s
        for s in os.environ.get("SPARK_GRAFT_SKIP_QUERIES", "").split(",")
        if s
    ]
    spark = get_spark("kfn-bench", extra_conf=extra_conf)
    if not shuffle_parts:
        # engine-derived sizing (session.py): at sf0.1 this resolves to
        # the floor (= today's 32 — driver-run plans unchanged); at
        # sf100 it supplies the partition count the env knob used to
        from kafka_firehose_nozzle_spark.session import configure_shuffle_for_input

        shuffle_parts = str(configure_shuffle_for_input(spark, sf_dir))

    qs = entrymod.queries()
    # warm up the JVM + parquet readers + codegen with trivial actions so
    # the first measured query doesn't absorb one-time JIT/startup cost
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.read.parquet(f"{sf_dir}/events.parquet").groupBy("event_type").count().count()

    # three passes per query, report the min: pass 1 absorbs codegen +
    # JIT warmup (amortized noise on a long-lived cluster), and min-of-3
    # rides out transient machine load (observed: a concurrent process
    # inflates single-pass timings ~30%)
    # Shuffle-release hook (untimed, between passes and queries): at
    # sf100 the suite otherwise fills the disk mid-run — Spark's
    # ContextCleaner only unlinks shuffle dirs once their RDDs are
    # garbage-collected, and min-of-3 stacks three spills per query.
    def _release():
        # unpersist every lingering RDD FIRST (localCheckpoint blocks):
        # min-of-3 at sf100 otherwise stacks three ~30 GB DISK_ONLY
        # checkpoints of the same query while the async ContextCleaner
        # races the next pass — observed disk-full mid-suite.
        # unpersist(True) blocks until the blocks are actually removed
        # (the py4j default is blocking=false, which only INITIATES
        # removal and leaves the disk-full race open).
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name in skip_queries:
            continue
        timings[name] = _best_of_3(
            lambda: qs[name](spark, sf_dir).count(), cleanup=_release
        )

    total = round(sum(timings.values()), 3)
    side = {
        "routing_events_per_sec": _routing_throughput(spark),
        "encode_events_per_sec": _encode_throughput(spark),
        **_wide_ann_bench_isolated(),
        **_lsh_pair_scoring_bench(spark, sf_dir),
        **_round4_side_metrics(spark, sf_dir, qs),
        **_round5_side_metrics(spark, sf_dir, qs),
    }
    steal1, total1 = _read_steal_ticks()
    steal_pct = (
        round(100.0 * (steal1 - steal0) / (total1 - total0), 2)
        if total1 > total0
        else 0.0
    )
    md5_after = _md5_probe_sec()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **(
                    {
                        "skipped_queries": skip_queries,
                        "shuffle_partitions": shuffle_parts,
                    }
                    if skip_queries or shuffle_parts
                    else {}
                ),
                **side,
                "drift": _drift_report(
                    timings,
                    sf,
                    md5_before,
                    md5_after,
                    steal_pct,
                    loadavg_start,
                ),
                "calibration": {
                    "md5_sec": md5_before,
                    "md5_sec_after": md5_after,
                    # best slice seen this session — the denominator of
                    # the X * (ref/m) adjudication rule (SCALE.md)
                    "md5_idle_reference_sec": min(
                        md5_idle_ref, md5_before, md5_after
                    ),
                    "md5_idle_reference_source": "measured",
                    "steal_pct": steal_pct,
                    "loadavg": loadavg_start,
                    "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                },
            }
        )
    )


def _best_of_3(action, cleanup=None) -> float:
    """THE measurement protocol (pass 1 absorbs codegen/JIT, min-of-3
    rides out load spikes) — headline and side metrics share it so the
    numbers stay comparable.  `cleanup` (untimed, between passes)
    releases each pass's shuffle files: at sf100 a single heavy query's
    three passes otherwise stack ~3x its spill on disk at once."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        action()
        best = min(best, time.perf_counter() - t0)
        if cleanup is not None:
            cleanup()
    return round(best, 3)


def _round4_side_metrics(spark, sf_dir: str, qs) -> dict:
    """min-of-3 timings for the round-4 flagship additions — kept OUT
    of the headline total so cross-round totals stay comparable."""
    return {
        f"{name}_sec": _best_of_3(lambda: qs[name](spark, sf_dir).count())
        for name in ("substring_dup_spans", "loglog_distinct_users")
    }


def _round5_side_metrics(spark, sf_dir: str, qs) -> dict:
    """min-of-3 timings for the round-5 flagship additions (DSIR
    weights and benchmark decontamination — the two volume-bound new
    ops) — kept OUT of the headline total so cross-round totals stay
    comparable."""
    return {
        f"{name}_sec": _best_of_3(lambda: qs[name](spark, sf_dir).count())
        for name in ("dsir_log_weights", "benchmark_decontam")
    }


def _wide_ann_bench_isolated() -> dict:
    """Run each wide-ANN metric FAMILY (cosine expr/blas; PQ) in its own
    FRESH subprocess JVM.

    The corpus is fixed-size synthetic, yet inside the long bench
    session the blas number drifted 0.68 -> 1.67 s between sf0.1 and
    sf1 runs (VERDICT r5 item 3) — context pressure from 197 queries —
    so r6 moved the whole family into ONE subprocess. r12 root-caused
    the residual drift (VERDICT r11 item 1): the families POISON EACH
    OTHER inside one JVM. Measured bisect (idle host, fresh subprocess
    each): pq prep after nothing = 7/7 s (codebook agg / encode eval);
    after cosine expr alone = 5/8 s; after blas alone = 5/12 s; after
    expr THEN blas = 70/60 s — and a 90 s idle pause before pq drains
    it back to 22/9 s. A drainable, order-dependent backlog is the JIT
    compile queue: each family's giant generated classes (8k-literal
    folds) compile in background C2 threads while the NEXT family's
    jobs run deoptimized. On a loaded driver this pushed the combined
    subprocess past its 900 s timeout and the old code FELL BACK
    SILENTLY to in-session numbers from a GC/JIT-pressured JVM — the
    r11 'regression' (expr 17.05 s on the driver) was that fallback,
    not a code change: the r11 code in a clean subprocess reads
    expr 0.886 / blas 0.879, inside the r10 band. One subprocess per
    family keeps every timed section in a JVM that only ever compiled
    its own family's code. There is no in-session fallback: a family
    whose subprocess fails publishes no timing, only
    ``ann_dim256_<family>_isolated: false`` and the subprocess's last
    stderr line in ``ann_dim256_<family>_error``."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict = {}
    for fam in ("cosine", "pq"):
        code = (
            "import sys, json; sys.path.insert(0, %r); "
            "from kafka_firehose_nozzle_spark.session import get_spark; "
            "import bench; "
            "print('WIDEANN ' + json.dumps(bench._wide_ann_%s_bench("
            "get_spark('kfn-bench-ann-%s'))))" % (here, fam, fam)
        )
        try:
            res = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                timeout=900,
                cwd=here,
            )
        except subprocess.TimeoutExpired:
            out[f"ann_dim256_{fam}_isolated"] = False
            out[f"ann_dim256_{fam}_error"] = "timed out after 900 s"
            continue
        lines = [
            line for line in res.stdout.splitlines() if line.startswith("WIDEANN ")
        ]
        if lines:
            out.update(json.loads(lines[-1][len("WIDEANN "):]))
        else:
            err = res.stderr.strip().splitlines() or [f"exit {res.returncode}"]
            out[f"ann_dim256_{fam}_isolated"] = False
            out[f"ann_dim256_{fam}_error"] = err[-1]
    return out


def _ann_corpus(spark, n: int, dim: int):
    """Deterministic synthetic wide-embedding corpus shared by both ANN
    metric families (sin(id*dim+pos) components — cheap, deterministic,
    norm ~ sqrt(dim/2)), materialized once so the timings compare
    SCORING paths, not the corpus generation."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda p: F.sin(F.col("id") * dim + p),
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )


def _wide_ann_cosine_bench(spark, n: int = 100_000, dim: int = 256) -> dict:
    """expr-vs-BLAS cosine top-k at dim 256 (VERDICT r3 item 6): the
    interpreted JVM fold is O(dim) interpreter dispatches per row, the
    pandas-UDF path is one BLAS matrix-vector product per Arrow batch.
    timed with the canonical _best_of_3 protocol (r12: was min-of-2 — the
    one metric family whose protocol under-absorbed JIT warm-up; a fresh
    subprocess pass curve reads expr 3.34/1.02/0.80/0.65/0.54 s, so two
    passes published whatever slice of the compile curve the host hit)."""
    from kafka_firehose_nozzle_spark.operators import similarity as S

    emb = _ann_corpus(spark, n, dim)
    q = S.query_vector(emb, 0)
    out = {}
    for impl in ("expr", "blas"):
        out[f"ann_dim{dim}_{impl}_sec"] = _best_of_3(
            lambda: S.cosine_topk(emb, q, k=10, impl=impl).count()
        )
    return out


def _wide_ann_pq_bench(spark, n: int = 100_000, dim: int = 256) -> dict:
    """PQ ADC query path: training+encode are offline/ingest-time costs,
    so the benched number is the SCAN — 16 one-byte codes + 16 lookups
    per row instead of dim multiplies; at 100 TB this is also a 64x
    smaller column read. Same corpus; timed with the
    canonical _best_of_3 protocol (r12, was min-of-2 — see cosine), in
    its own JVM."""
    from kafka_firehose_nozzle_spark.operators import similarity as S

    emb = _ann_corpus(spark, n, dim)
    cb = S.pq_codebook(emb, num_sub=16, num_codes=16, dim=dim)
    # UNTIMED prep: encode via the broadcast/BLAS path — the documented
    # production mode for wide dims (and equivalence-pinned against the
    # literal path). The literal form's 8k-literal generated class takes
    # minutes of background C2 work that then pollutes the TIMED
    # pq_topk passes below (the r12 JIT-backlog finding); the broadcast
    # path generates almost no JVM code and preps ~4x faster.
    codes = S.pq_encode(
        emb, cb, num_sub=16, num_codes=16, dim=dim, mode="broadcast"
    )
    codes = codes.localCheckpoint(eager=True)
    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    return {
        f"ann_dim{dim}_pq_scan_sec": _best_of_3(
            lambda: S.pq_topk(
                codes, cb, qvec, k=10, num_sub=16, num_codes=16
            ).count()
        )
    }


def _lsh_pair_scoring_bench(spark, sf_dir: str) -> dict:
    """ALL-pairs scoring inside sign-LSH buckets, expr fold vs
    bucket-batched GEMM (applyInPandas): the gemm path ships vectors
    through Arrow once per band instead of evaluating an interpreted
    64-element fold per pair. min-of-2 each; equivalence is pinned by
    tests/test_operators.py::test_lsh_pairs_gemm_matches_expr."""
    from kafka_firehose_nozzle_spark.operators import dedup as D

    emb = _t(spark, sf_dir, "embeddings")
    n = _parquet_nrows(f"{sf_dir}/embeddings.parquet")
    out = {}
    for impl in ("expr", "gemm"):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            D.embedding_lsh_dup_pairs(
                emb, threshold=-1.0, n=n, impl=impl
            ).count()
            best = min(best, time.perf_counter() - t0)
        out[f"lsh_pairs_{impl}_sec"] = round(best, 3)
    return out


def _routing_throughput(spark, n: int = 2_000_000) -> int:
    """Routing-pipeline events/s on the 6-type synthetic envelope mix
    (BASELINE.md engine-benchmark table: 'recorded at first
    implementation; tracked per PR'). The full hot path — route + topic
    template + byte-exact sonde JSON encode — runs to completion into the
    noop sink (count() alone would let Catalyst prune the encoded value
    column). min-of-4: a round-6 isolated idle probe measured 0.39–1.45
    M/s across six IDENTICAL passes (the r4 447k and r5 1.19M driver
    readings were this variance, not regressions — same code
    best-of-6 read 1.45M), and two passes frequently both land in the
    slow half; four passes make the reported best a stable statistic."""
    from kafka_firehose_nozzle_spark.config import Config, KafkaConfig, TopicConfig
    from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config

    config = Config()
    config.kafka = KafkaConfig(
        brokers=["localhost:9092"],
        topic=TopicConfig(
            log_message_fmt="log-%s",
            value_metric="metric",
            container_metric="containermetric",
            http_start_stop="httpstartstop",
            counter_event="counterevent",
            error="error",
        ),
    )
    routed = route_envelopes_config(synthetic_envelope_df(spark, n), config)
    best = float("inf")
    for _ in range(4):
        t0 = time.perf_counter()
        routed.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return int(n / best)


def _encode_throughput(spark, n: int = 2_000_000) -> int:
    """Sonde-JSON ENCODE-ONLY throughput — the one benchmark the
    reference itself ships (encoder_test.go:41-67 races stdlib vs
    easyjson on canonical envelopes; run via `make bench`). Same
    canonical 6-type mix here, byte-exact encoder expression, noop sink
    so the JSON strings are fully materialized. min-of-4 (same
    variance rationale as _routing_throughput)."""
    from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
    from kafka_firehose_nozzle_spark.functions.sonde_json import sonde_json

    env = synthetic_envelope_df(spark, n)
    encoded = env.select(sonde_json(env).alias("value"))
    best = float("inf")
    for _ in range(4):
        t0 = time.perf_counter()
        encoded.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return int(n / best)


if __name__ == "__main__":
    main()
