"""What every query family shares: the tables, the routing config of the
parity queries, the one plan-construction memo, and the registry that
``@query`` fills where each query is defined."""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# single source of truth for table names / TIMESTAMP(NANOS) columns /
# the typed read lives in the package's catalog module — the SQL front
# door and this driver contract must never drift apart
from kafka_firehose_nozzle_spark import catalog as CAT
from kafka_firehose_nozzle_spark.config import TopicConfig

TABLES = CAT.TABLES

# Routing config used by the parity queries: templated log topic, disabled
# counter_event (exercises the drop path, kafka.go:333-338).
ROUTE_TOPICS = TopicConfig(
    http_start_stop="topic-http",
    log_message_fmt="log-%s",
    value_metric="topic-metrics",
    error="topic-errors",
)

# name -> (constructor, DuckDB oracle SQL)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def register(
    name: str, fn: Callable[[SparkSession, str], DataFrame], oracle: str
) -> None:
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is registered twice")
    REGISTRY[name] = (fn, oracle)


def query(oracle: str):
    """Register the decorated ``q_<name>`` constructor as ``<name>``
    with its DuckDB oracle SQL."""

    def deco(fn):
        register(fn.__name__.removeprefix("q_"), fn, oracle)
        return fn

    return deco


# Plan-construction memo (r11 optimization, guide §5/§7.3: the driver
# should do almost no work in the query path). Tables, envelope and
# routing adapters, pure query constructors and reusable unresolved
# Columns are immutable PLAN METADATA — re-deriving them on every query
# build costs parquet footer reads and up to ~2 s of fine-grained py4j
# round trips per call (measured r11), while contributing nothing to the
# computation, which still runs from the parquet inputs on every action.
# Keys start with the Spark applicationId so a fresh session (new JVM
# state, new defaultParallelism) never sees another session's plans.
# This memoizes CONSTRUCTION only — never results, never data: nothing
# holding a checkpoint or other materialized state goes in here.
#
# Growth bound (VERDICT r11 item 7): a long-lived session (the streaming
# entry points) that touches many sf_dirs would otherwise grow the memo
# without limit. The cap is sized far above any one session's working
# set (~350 queries x a handful of sf_dirs); on overflow, entries from
# OTHER applicationIds (dead sessions — appId is unique per
# SparkContext) are dropped first, and only if the CURRENT session alone
# exceeds the cap is the memo cleared outright. Eviction is always safe:
# entries are unexecuted plan objects that rebuild in milliseconds.
_MEMO: dict[tuple, object] = {}
_MEMO_CAP = 4096


def memo(spark: SparkSession, key: tuple, build: Callable[[], object]):
    """``build()``'s plan object, built once per (session, ``key``).
    ``key`` starts with the builder's name, then the sf_dir it reads."""
    app = spark.sparkContext.applicationId
    full = (app, *key)
    hit = _MEMO.get(full)
    if hit is None:
        hit = build()
        if len(_MEMO) >= _MEMO_CAP:
            for k in [k for k in _MEMO if k[0] != app]:
                del _MEMO[k]
            if len(_MEMO) >= _MEMO_CAP:
                _MEMO.clear()
        _MEMO[full] = hit
    return hit


def _pure_plan(fn):
    """Memoize a PURE query constructor per (session, sf_dir).

    Eligibility is strict (r11 optimization wave 2, guide §7.3: driver
    plan work is single-threaded and the bench pays it per pass): a
    constructor may be decorated ONLY if it runs no Spark action (no
    collect/head/count), holds no checkpoint/persisted state, and
    derives nothing from data — the memoized object is an UNEXECUTED
    logical plan, so every action on it still scans the parquet inputs.
    Constructors that materialize anything during construction
    (roundtrip's localCheckpoint, embedding_dup_pairs' plane collect,
    dup_components' iterative jobs) must NOT be decorated: caching those
    would reuse computed data across passes, which the bench contract
    forbids."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memo(spark, (fn.__name__, sf_dir), lambda: fn(spark, sf_dir))

    return wrapper


# appId -> the sf_dir whose tables the session's views CURRENTLY point
# at (a dict, not a set: alternating sf_dirs in one session must
# re-register, or the second sf_dir's views would serve the first's).
_VIEWS_CURRENT: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    def build() -> DataFrame:
        # typed read (nanosAsLong + TIMESTAMP(NANOS) column derivation) is
        # catalog.read_table — ONE implementation for the SQL views and the
        # driver contract.
        df = CAT.read_table(spark, sf_dir, name)
        # The local testdata is one single-row-group file per table, so the
        # scan yields ONE split no matter how many cores exist. On a real lake
        # a 100 TB table arrives as thousands of row groups and this branch
        # never fires; locally, rebalance tables so downstream stages use all
        # cores. The r11 refinement: the break-even for the fan-out shuffle
        # depends on COMPUTE DENSITY, not just bytes. Corpus tables
        # (documents/embeddings) run explode/hash/pairwise work per row —
        # parallelism pays earlier than for scan-bound tables, but the second
        # r11 A/B wave showed NOT at sub-MB sizes: with both corpus tables
        # single-split at sf0.1 (0.6-0.8 MB), minhash_signatures 0.42 -> 0.22,
        # dedup_exact 0.55 -> 0.19, bigram_topk 0.62 -> 0.41,
        # embedding_dup_pairs 2.4 -> 1.9, ann_cosine_topk 0.39 -> 0.31 — the
        # per-row hash/dot work on a few thousand rows is cheaper than one
        # 32-way exchange + 32-task stages. The ONE corpus path whose dense
        # pre-shuffle work still wants the fan at those sizes is the planted
        # minhash-LSH family (2x rows, regexp mutation, shingles, 8 hash
        # lanes), and it fans inside `_planted_docs` — the same
        # fan-where-the-work-lives pattern as `_envelopes`. Dense tables
        # above 4 MB (sf1+: documents ~6 MB, embeddings ~8 MB) fan at scan
        # exactly as before. Scan-bound tables (the relational
        # set AND events): the r11 interleaved A/Bs (2-3 reps x min-of-3)
        # showed the round-robin exchange costs MORE than a single-task scan
        # for every such table at sf0.1, lineitem's 10 MB included — q1 0.45
        # vs 0.91 s, q9 0.51 vs 1.36 s, revenue_rollup 0.27 vs 0.70 s;
        # events_per_minute 0.23 vs 0.73 s, sessionize 0.21 vs 0.76 s,
        # error_prior_views 0.23 vs 0.66 s, props_json_stats 0.18 vs 0.41 s —
        # and the r11 plan audit showed several of those exchanges feeding
        # straight into BroadcastExchange nodes (shuffle a table 32 ways,
        # then broadcast it — pure waste; error_prior_views had exactly
        # that). Most events queries hash-exchange immediately (groupBy /
        # window / join), so the round-robin exchange bought distribution
        # the next operator re-did anyway; the one events path with heavy
        # per-row work BEFORE its first shuffle — the envelope codec — fans
        # out inside `_envelopes` instead, where the dense work actually
        # lives. So non-corpus tables stay single-split up to 32 MB (the
        # measured break-even region); at sf1+ every fact table crosses the
        # threshold and fans out again. (Catalyst still pushes
        # filters/pruning through a Repartition node.)
        try:
            nbytes = os.path.getsize(f"{sf_dir}/{name}.parquet")
        except OSError:
            nbytes = 0
        dense = name in ("documents", "embeddings")
        if nbytes > ((4 << 20) if dense else (32 << 20)):
            df = df.repartition(spark.sparkContext.defaultParallelism)
        return df

    return memo(spark, ("_t", sf_dir, name), build)


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    app = spark.sparkContext.applicationId
    if _VIEWS_CURRENT.get(app) == sf_dir:
        return
    for name in TABLES:
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_CURRENT[app] = sf_dir


def _parquet_nrows(path: str) -> int | None:
    """Row count from the parquet footer — a driver-side metadata read
    (no Spark job, no data scan).  None if the footer can't be read, in
    which case callers fall back to counting."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def _avg_micro_expr(sum_col: str, n_col: str):
    """Half-up average of ``sum_col / n_col`` in integer micro-units
    (6 decimal places), computed entirely in BIGINT arithmetic.

    ``(s div n)*1e6 + ((s % n)*2e6 + n) div (2n)`` is exact half-up
    rounding for non-negative s, n > 0 (Spark ``div`` and DuckDB ``//``
    both truncate toward zero, which equals floor on non-negative
    operands).  The remainder form bounds every intermediate by
    ``n * 2e6`` so nothing overflows int64 below ~4.6e12 rows per group.
    Cross-engine determinism: no DOUBLE is produced, so no
    engine-build-dependent double rounding can occur; callers convert
    with one exact int64->double cast and one IEEE division by 1e6.
    """
    return F.expr(
        f"(`{sum_col}` div `{n_col}`) * 1000000"
        f" + ((`{sum_col}` % `{n_col}`) * 2000000 + `{n_col}`)"
        f" div (2 * `{n_col}`)"
    )
