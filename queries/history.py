"""Table-history queries over ``operators.history`` and ``operators.asof``:
SCD2, snapshots, change-log compaction, upserts and as-of joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import history as H

from ._base import _t, query

ORACLE_ASOF = """
    WITH p AS (SELECT event_id, user_id + 1 AS custkey, ts FROM events
               WHERE event_type = 'purchase'),
    j AS (SELECT p.event_id, p.custkey, o.o_orderkey,
            ROW_NUMBER() OVER (PARTITION BY p.event_id
                ORDER BY o.o_orderdate DESC NULLS LAST,
                         o.o_orderkey DESC NULLS LAST) AS rn
          FROM p LEFT JOIN orders o
            ON o.o_custkey = p.custkey AND o.o_orderdate <= p.ts)
    SELECT event_id, custkey, o_orderkey AS last_orderkey FROM j WHERE rn = 1
"""


@query(ORACLE_ASOF)
def q_asof_purchase_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most recent
    order at-or-before the event time (merge_asof per key via cogrouped
    applyInPandas — operators/asof.py)."""
    from kafka_firehose_nozzle_spark.operators.asof import asof_join

    purchases = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", (F.col("user_id") + 1).alias("custkey"), "ts")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    joined = asof_join(
        purchases, orders, on="ts", by="custkey", right_value_cols=["o_orderkey"]
    )
    return joined.select(
        "event_id",
        "custkey",
        F.col("o_orderkey").alias("last_orderkey"),
    )


ORACLE_ASOF_FWD = """
    WITH p AS (SELECT event_id, user_id + 1 AS custkey, ts FROM events
               WHERE event_type = 'purchase'),
    j AS (SELECT p.event_id, p.custkey, o.o_orderkey,
            ROW_NUMBER() OVER (PARTITION BY p.event_id
                ORDER BY o.o_orderdate ASC NULLS LAST,
                         o.o_orderkey ASC NULLS LAST) AS rn
          FROM p LEFT JOIN orders o
            ON o.o_custkey = p.custkey AND o.o_orderdate >= p.ts)
    SELECT event_id, custkey, o_orderkey AS next_orderkey FROM j WHERE rn = 1
"""


@query(ORACLE_ASOF_FWD)
def q_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase event matched to the user's
    earliest order at-or-after the event time (direction="forward")."""
    from kafka_firehose_nozzle_spark.operators.asof import asof_join

    purchases = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", (F.col("user_id") + 1).alias("custkey"), "ts")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    joined = asof_join(
        purchases,
        orders,
        on="ts",
        by="custkey",
        right_value_cols=["o_orderkey"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "custkey",
        F.col("o_orderkey").alias("next_orderkey"),
    )


ORACLE_ASOF_NEAREST = """
    WITH p AS (SELECT event_id, user_id + 1 AS custkey, ts FROM events
               WHERE event_type = 'purchase'),
    j AS (SELECT p.event_id, p.custkey, o.o_orderkey,
            ROW_NUMBER() OVER (PARTITION BY p.event_id
                ORDER BY ABS(epoch_us(o.o_orderdate) - epoch_us(p.ts))
                             ASC NULLS LAST,
                         o.o_orderdate ASC NULLS LAST,
                         CASE WHEN o.o_orderdate <= p.ts
                              THEN -o.o_orderkey ELSE o.o_orderkey END
                             ASC NULLS LAST) AS rn
          FROM p LEFT JOIN orders o ON o.o_custkey = p.custkey)
    SELECT event_id, custkey, o_orderkey AS nearest_orderkey
    FROM j WHERE rn = 1
"""


@query(ORACLE_ASOF_NEAREST)
def q_asof_nearest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each purchase event matched to the
    user's closest order in absolute time, either side. Tie semantics
    (pinned empirically against pandas and replicated in the oracle):
    equidistant candidates prefer the backward row; duplicate timestamps
    resolve to the last row in (ts, value)-sorted order backward, first
    forward."""
    from kafka_firehose_nozzle_spark.operators.asof import asof_join

    purchases = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", (F.col("user_id") + 1).alias("custkey"), "ts")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    joined = asof_join(
        purchases,
        orders,
        on="ts",
        by="custkey",
        right_value_cols=["o_orderkey"],
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "custkey",
        F.col("o_orderkey").alias("nearest_orderkey"),
    )


ORACLE_SCD2 = """
    WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
               WHERE user_id < 30),
    marked AS (SELECT *,
                   (LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type) AS chg
               FROM e WINDOW w AS (PARTITION BY user_id
                                   ORDER BY ts, event_id)),
    starts AS (SELECT user_id, event_type, ts AS valid_from,
                      event_id AS tb
               FROM marked WHERE chg)
    SELECT user_id, event_type, valid_from,
           COALESCE(LEAD(valid_from) OVER w2,
                    TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
           (LEAD(valid_from) OVER w2 IS NULL) AS is_current
    FROM starts WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, tb)
"""


@query(ORACLE_SCD2)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build: each user's event_type runs become
    versioned [valid_from, valid_to) periods with an is_current flag —
    the warehouse history table an as-of join consumes.  One hash
    shuffle on user_id (both window passes share the Exchange+Sort;
    plan-guarded).  Restricted to user_id < 30 to keep the oracle
    comparison compact; the plan is user-count-independent.

    Open periods use the warehouse high-date convention (sentinel
    2200-01-01) rather than NULL: a NULL valid_to would make every
    BETWEEN-style point-in-time predicate need an extra IS NULL arm,
    and NaT columns push pandas' frame comparison onto a raw-int64
    path where the engines' different timestamp units false-diff."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    hist = H.scd2_history(ev, "user_id", "event_type", "ts", "event_id")
    return hist.withColumn(
        "valid_to",
        F.coalesce(F.col("valid_to"), F.lit("2200-01-01").cast("timestamp")),
    )


ORACLE_CHANGELOG = f"""
    WITH r AS (SELECT user_id, ts, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           {DET.det_round_sql('value', 6)} AS last_value
    FROM r WHERE rn = 1 AND event_type <> 'error'
"""


@query(ORACLE_CHANGELOG)
def q_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / compacted-topic semantics over the event log: each
    user's latest event wins (ts DESC, event_id tiebreak); a latest
    'error' event acts as a tombstone and removes the key — the merge
    that rebuilds current state from an append-only change stream
    (operators/history.py::compact_changelog, one key shuffle)."""
    ev = _t(spark, sf_dir, "events")
    out = H.compact_changelog(
        ev, "user_id", "ts", "event_id", F.col("event_type") == "error"
    )
    return out.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        DET.det_round(F.col("value"), 6).alias("last_value"),
    )


ORACLE_MERGE = """
    WITH upd AS (
        SELECT c_custkey, 'UPDATED' AS c_mktsegment,
               c_acctbal + 1000 AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT 9000000 + i, 'NEWSEG', 0.0 FROM range(50) t(i)
    ),
    merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
        WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd)
    )
    SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM merged
    WHERE c_custkey % 10 = 0 OR c_custkey >= 9000000
"""


@query(ORACLE_MERGE)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the customer table (operators/history.py::
    merge_upsert): a deterministic update batch rewrites every 10th
    customer's segment and inserts 50 new keys; the merged result is
    probed at the affected keys (updated rows show the new segment, the
    inserts appear, untouched keys keep their column). One unionByName +
    one per-key window shuffle."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("UPDATED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 1000).alias("c_acctbal"),
    )
    inserts = spark.range(50).select(
        (F.col("id") + 9_000_000).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    merged = H.merge_upsert(cust, updates.unionByName(inserts), "c_custkey")
    return merged.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") >= 9_000_000)
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


ORACLE_SNAPSHOT_ASOF = f"""
    WITH r AS (SELECT user_id, ts, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
               FROM events
               WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
    SELECT user_id, ts AS asof_ts, event_type AS asof_type,
           {DET.det_round_sql('value', 6)} AS asof_value
    FROM r WHERE rn = 1 AND event_type <> 'error'
"""


@query(ORACLE_SNAPSHOT_ASOF)
def q_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the event changelog: per-user state AS OF
    2024-01-15 00:00:00 — the warehouse snapshot query (reconstruct any
    historical table version from the append-only log without storing
    versions).  Same operator as changelog_compact; the as-of bound is
    a pure scan predicate, so at 100 TB partition pruning on the ts
    column does the time travel before a single row shuffles."""
    asof = "2024-01-15 00:00:00"
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit(asof).cast("timestamp")
    )
    out = H.compact_changelog(
        ev, "user_id", "ts", "event_id", F.col("event_type") == "error"
    )
    return out.select(
        "user_id",
        F.col("ts").alias("asof_ts"),
        F.col("event_type").alias("asof_type"),
        DET.det_round(F.col("value"), 6).alias("asof_value"),
    )


ORACLE_SNAPSHOT_DIFF = """
    WITH sa AS (SELECT user_id, event_type AS et, value AS v FROM (
            SELECT user_id, event_type, value,
                ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts <= TIMESTAMP '2024-01-10 00:00:00') r
        WHERE rn = 1 AND event_type <> 'error'),
    sb AS (SELECT user_id, event_type AS et, value AS v FROM (
            SELECT user_id, event_type, value,
                ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00') r
        WHERE rn = 1 AND event_type <> 'error')
    SELECT CASE WHEN sa.user_id IS NULL THEN 'created'
                WHEN sb.user_id IS NULL THEN 'deleted'
                WHEN sa.et = sb.et AND sa.v = sb.v THEN 'unchanged'
                ELSE 'changed' END AS change,
           COUNT(*) AS n_users
    FROM sa FULL OUTER JOIN sb ON sa.user_id = sb.user_id
    GROUP BY 1
"""


@query(ORACLE_SNAPSHOT_DIFF)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse snapshot diff: per-user state at 2024-01-10 vs
    2024-01-20 reconstructed from the SAME changelog, classified as
    created / deleted / changed / unchanged — the version-comparison
    report a data-versioning layer prints between two table versions.
    Mechanism: two time-travel compactions (each one key shuffle over
    the pruned scan) full-outer-joined on the key; the classification
    is a pure projection.  At 100 TB both sides prune to their ts
    bound, and the join shuffles state rows (key cardinality), not the
    log."""
    def state_at(asof: str) -> DataFrame:
        ev = _t(spark, sf_dir, "events").filter(
            F.col("ts") <= F.lit(asof).cast("timestamp")
        )
        return H.compact_changelog(
            ev, "user_id", "ts", "event_id", F.col("event_type") == "error"
        ).select(
            "user_id",
            F.col("event_type").alias("et"),
            F.col("value").alias("v"),
        )

    a = state_at("2024-01-10 00:00:00").alias("a")
    b = state_at("2024-01-20 00:00:00").alias("b")
    j = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "outer")
    cls = (
        F.when(F.col("a.user_id").isNull(), F.lit("created"))
        .when(F.col("b.user_id").isNull(), F.lit("deleted"))
        .when(
            (F.col("a.et") == F.col("b.et")) & (F.col("a.v") == F.col("b.v")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.groupBy(cls.alias("change")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
