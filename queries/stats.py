"""Deterministic statistics over ``functions.detmath``, ``operators.audit``
and ``operators.ranking``: tests, correlations, drift, sketches and
survival estimates whose doubles agree bit for bit with DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import ranking as RK

from ._base import _t, query

ORACLE_WEIGHTED_SAMPLE = """
    WITH t AS (SELECT doc_id,
        (FLOOR((ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ws'),
                       1, 15)) AS BIGINT) + 1) / POWER(2, 60))
              / n_chars) * 1000000000000.0 + 0.5) / 1000000000000.0)
            AS priority
    FROM documents)
    SELECT doc_id, priority FROM t
    ORDER BY priority DESC, doc_id LIMIT 25
"""


@query(ORACLE_WEIGHTED_SAMPLE)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis A-ES): take
    the 25 documents with the largest ln(u)/w priority, u from the md5
    hash of the doc id (so the 'random' draw is reproducible on any
    engine), w = n_chars — longer documents proportionally likelier.
    Priorities are ROUNDED to 12dp with a doc_id tie-break so libm ln()
    ulp differences cannot reorder the sample; the top-k is a
    TakeOrdered, not a global sort."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#ws"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(float(2**60))
    pri = DET.det_round(F.log(u) / F.col("n_chars"), 12)
    return (
        docs.select("doc_id", pri.alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(25)
    )


ORACLE_EWMA = """
    WITH a AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
               FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT user_id, len(vs) AS n_purchases,
        (FLOOR(list_reduce(vs, (acc, v) -> 0.25 * v + 0.75 * acc)
            * 1000000.0 + 0.5) / 1000000.0) AS ewma_value
    FROM a
"""


@query(ORACLE_EWMA)
def q_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 0.25) of purchase values in event-time
    order — the sequential-state statistic that CANNOT be a window
    cumulative sum without changing float semantics.  Expressed as a
    deterministic LEFT FOLD over the per-user time-sorted value array:
    collect_list + array_sort (one shuffle at user cardinality; group
    arrays are session-scale) then F.aggregate, which both engines
    replay with the identical operation order (DuckDB list_reduce).
    Per-user event counts are bounded (sessions), so the collected
    arrays stay small at any corpus scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    vals = F.transform(arr, lambda x: x.getField("value"))
    a = 0.25
    ewma = F.aggregate(
        F.expr("slice(_vals, 2, size(_vals) - 1)"),
        F.element_at(F.col("_vals"), 1),
        lambda acc, v: F.lit(a) * v + F.lit(1 - a) * acc,
    )
    return (
        ev.groupBy("user_id")
        .agg(vals.alias("_vals"))
        .select(
            "user_id",
            F.size(F.col("_vals")).alias("n_purchases"),
            DET.det_round(ewma, 6).alias("ewma_value"),
        )
    )


ORACLE_CENTROID_NORMS = """
    WITH e AS (SELECT label, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
               FROM embeddings),
    comp AS (SELECT label, i AS pos,
        CAST(SUM(CAST(v[i + 1] AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS c
        FROM e CROSS JOIN range(64) t(i) GROUP BY label, i),
    agg AS (SELECT label, list(c * c ORDER BY pos) AS cs FROM comp GROUP BY label)
    SELECT label, (FLOOR(sqrt(list_sum(cs)) * 10000.0 + 0.5) / 10000.0)
        AS centroid_norm FROM agg
"""


@query(ORACLE_CENTROID_NORMS)
def q_embedding_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm of the per-label mean embedding (array aggregation)."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(20,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    return (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label",
            DET.det_round(
                F.sqrt(
                    F.aggregate(
                        F.transform(
                            F.col("pc"), lambda x: x.getField("c") * x.getField("c")
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                4,
            ).alias("centroid_norm"),
        )
    )


ORACLE_KMV = """
    WITH h AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS
                   VARCHAR) || '#kmv'), 1, 15)) AS BIGINT) AS h
               FROM events),
    k AS (SELECT h FROM h ORDER BY h LIMIT 64)
    SELECT COUNT(*) AS k, MAX(h) AS kth_hash,
           (FLOOR((CAST(COUNT(*) - 1 AS DOUBLE) * POWER(2, 60) / MAX(h))
                  * 10000.0 + 0.5) / 10000.0)
               AS est_distinct
    FROM k
"""


@query(ORACLE_KMV)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over event user_ids:
    keep the k=64 smallest 60-bit md5 hashes; estimate D ~ (k-1) * 2^60
    / h_(k). The hash is the same md5 route the dedup operators use, so
    the sketch is bit-deterministic and the DuckDB oracle replays it
    exactly — unlike HLL, whose register layout is engine-private.

    Scale shape: the k-smallest select is a TakeOrdered (per-partition
    top-k then a k-row driver merge), so the full corpus is never
    globally sorted; the distinct dedups at hash cardinality with
    map-side combine. At 100 TB you would fold the k-smallest into an
    aggregator per partition; the estimate math is identical."""
    ev = _t(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit("#kmv"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    kmin = ev.select(h.alias("h")).distinct().orderBy("h").limit(64)
    return kmin.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("h").alias("kth_hash"),
        # (k-1) from the actual row count, not a hardcoded 63 — at a
        # corpus with fewer than k distinct users the estimate degrades
        # gracefully toward the exact count
        DET.det_round(
            (F.count(F.lit(1)) - 1).cast("double")
            * F.lit(float(2**60))
            / F.max("h"),
            4,
        ).alias("est_distinct"),
    )


ORACLE_QUANT = """
    WITH e AS (SELECT label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT label,
              list_max(list_transform(v, x -> abs(x))) AS s, v FROM e),
    r AS (SELECT label,
              list_sum(list_transform(range(len(v)), i ->
                  abs(v[i + 1] - (FLOOR(v[i + 1] / s * 127 + 0.5)) * s / 127)))
                  / len(v) AS err
          FROM q)
    SELECT label, COUNT(*) AS n,
        (FLOOR((CAST(SUM(CAST(err AS DECIMAL(20,12))) AS DOUBLE)
                / COUNT(*)) * 100000000.0 + 0.5) / 100000000.0) AS avg_err,
        (FLOOR(MAX(err) * 100000000.0 + 0.5) / 100000000.0) AS max_err
    FROM r GROUP BY label
"""


@query(ORACLE_QUANT)
def q_embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (per-vector max-abs scale) reconstruction
    error, aggregated per label — the compression-accuracy profile a
    pipeline checks before storing quantized vectors. Pure-map quantize/
    reconstruct (higher-order functions, zero shuffle), one partial-agg
    shuffle at label cardinality; the per-label mean goes through an
    exact decimal sum like every other cross-engine average."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    recon = F.transform(
        v, lambda x: F.floor(x / scale * 127 + F.lit(0.5)) * scale / 127
    )
    err = F.aggregate(
        F.zip_with(v, recon, lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size(v)
    return (
        emb.select("label", err.alias("err"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            DET.det_round(
                F.sum(F.col("err").cast("decimal(20,12)")).cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("avg_err"),
            DET.det_round(F.max("err"), 8).alias("max_err"),
        )
    )


ORACLE_HISTOGRAM_Q = f"""
    WITH x AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
    b AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n FROM x),
    h AS (SELECT LEAST(255, CAST(FLOOR((x - lo) * 256.0 / (hi - lo))
                                 AS INT)) AS bucket,
                 COUNT(*) AS cnt
          FROM x CROSS JOIN b GROUP BY 1),
    c AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM h),
    q AS (SELECT unnest([50, 90, 99]) AS pct)
    SELECT pct, CAST(MIN(bucket) AS INT) AS bucket,
           {DET.det_round_sql(
               'MIN(lo) + (MIN(bucket) + 1) * (MIN(hi) - MIN(lo)) / 256.0', 6
           )} AS upper_edge
    FROM c CROSS JOIN q CROSS JOIN b
    WHERE cum * 100 >= pct * n
    GROUP BY pct
"""


@query(ORACLE_HISTOGRAM_Q)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: a 256-bucket fixed-grid histogram of
    l_extendedprice, then p50/p90/p99 read off the cumulative counts
    (upper bucket edge of the first bucket reaching the rank).  Unlike
    percentile_quantities' exact per-group sort, this is the SHAPE that
    survives 100 TB: one partial-aggregated shuffle of <= 256 groups
    regardless of row count, merges associatively across partitions
    (the property t-digest/KLL trade exactness for — here with
    deterministic integer bucket math a SQL oracle replays), and error
    bounded by the bucket width.  Bounds ride in from a 1-row broadcast
    aggregate like zorder's."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    b = li.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    # integer bucket index: 0..255; hi maps to 255 via the LEAST guard
    bucket = F.least(
        F.lit(255),
        F.floor(
            (F.col("x") - F.col("lo"))
            * F.lit(256.0)
            / (F.col("hi") - F.col("lo"))
        ).cast("int"),
    )
    hist = (
        li.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            F.first("n").alias("n"),
        )
    )
    # the running sum runs over the <=256-row histogram, not the corpus
    # — the unpartitioned window is bounded by the bucket count
    wsum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wsum))
    # 256-row frame: the quantile picks are driver-scale work expressed
    # relationally (one row per quantile via a VALUES-style dim)
    qs = cum.sparkSession.createDataFrame(
        [(50,), (90,), (99,)], "pct int"
    )
    picked = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("pct")
        .agg(
            F.min("bucket").alias("bucket"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
    )
    edge = F.col("lo") + (F.col("bucket") + 1) * (F.col("hi") - F.col("lo")) / F.lit(256.0)
    return picked.select(
        "pct",
        F.col("bucket").cast("int").alias("bucket"),
        DET.det_round(edge, 6).alias("upper_edge"),
    )


ORACLE_KMV_PER_TYPE = """
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (SELECT event_type,
              CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#kmv'),
                  1, 15)) AS BIGINT) AS h
          FROM u),
    r AS (SELECT event_type, h,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM h)
    SELECT event_type, COUNT(*) AS k,
           (FLOOR((CAST(COUNT(*) - 1 AS DOUBLE) * POWER(2, 60) / MAX(h))
                  * 10000.0 + 0.5) / 10000.0) AS est_distinct
    FROM r WHERE rk <= 32 GROUP BY event_type
"""


@query(ORACLE_KMV_PER_TYPE)
def q_kmv_distinct_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV sketch: distinct users per event_type estimated
    from each group's 32 smallest 60-bit hashes — the grouped version of
    kmv_distinct_users.  The per-group k-smallest is a rank <= k window
    (one shuffle on event_type, skew-bounded: each group keeps 32 rows);
    merging sketches = union + re-rank, never a re-scan."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit("#kmv"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("event_type").orderBy("h")
    kmin = (
        ev.select("event_type", h.alias("h"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 32)
    )
    return kmin.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        DET.det_round(
            (F.count(F.lit(1)) - 1).cast("double")
            * F.lit(float(2**60))
            / F.max("h"),
            4,
        ).alias("est_distinct"),
    )


ORACLE_AUDIT = """
    SELECT * FROM (
    SELECT 'orders_fk_customer' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
               AS violations,
           (SELECT COUNT(*) FROM orders) AS checked
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT COUNT(*) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'customer_pk_unique',
           (SELECT COALESCE(CAST(SUM(extra) AS BIGINT), 0) FROM (
                SELECT COUNT(*) - 1 AS extra FROM customer
                GROUP BY c_custkey HAVING COUNT(*) > 1) t),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'lineitem_price_positive',
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT (l_extendedprice > 0)
               OR (l_extendedprice > 0) IS NULL),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE NOT (l_discount >= 0 AND l_discount <= 1)
               OR (l_discount >= 0 AND l_discount <= 1) IS NULL),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT COUNT(*) FROM orders
            WHERE NOT (o_totalprice > 0) OR (o_totalprice > 0) IS NULL),
           (SELECT COUNT(*) FROM orders)
    ) ORDER BY check_name
"""


# Scalar-only assignment window + MATERIALIZED reuse points: the cell
# count grows with the corpus (nc = n // 600), so the assignment cross
# product is n * nc = O(n^2/600) rows — 66.6M at sf10.  The original
# oracle windowed that product with both 64-dim double lists still in
# the row and inlined `m` into each of its three consumers; DuckDB's
# window materialization hit 105 GB RSS and was OOM-killed in the r8
# stretch sweep.  Computing the cosine into a scalar CTE first shrinks
# the window input to 24 bytes/row (~1.6 GB), and MATERIALIZED stops
# the 66.6M-row assignment from being recomputed per consumer.  A/B
# equality with the previous text pinned at sf0.01 (424 rows) and sf1
# (4,074 rows) before the swap; sf10 now completes under a 40 GB cap.
@query(ORACLE_AUDIT)


def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality invariant report over the TPC-H-ish lake
    (operators/audit.py): FK orphans, key uniqueness, value ranges,
    temporal ordering — each check one scan + tiny aggregate, glued into
    a [check_name, violations, checked] report. The synthetic lake is
    clean on the FK/dup checks and dirty on none of them by
    construction, so the report doubles as a fixture regression guard."""
    from kafka_firehose_nozzle_spark.operators import audit as AU

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    checks = [
        (
            "orders_fk_customer",
            AU.fk_orphans(orders, cust, "o_custkey", "c_custkey"),
            orders,
        ),
        (
            "lineitem_fk_orders",
            AU.fk_orphans(li, orders, "l_orderkey", "o_orderkey"),
            li,
        ),
        ("customer_pk_unique", AU.duplicate_keys(cust, "c_custkey"), cust),
        (
            "lineitem_price_positive",
            AU.check(li, F.col("l_extendedprice") > 0),
            li,
        ),
        (
            "lineitem_discount_range",
            AU.check(
                li,
                (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
            ),
            li,
        ),
        (
            "orders_totalprice_positive",
            AU.check(orders, F.col("o_totalprice") > 0),
            orders,
        ),
    ]
    return AU.audit_report(checks)


ORACLE_LANG_ENTROPY = f"""
    WITH c AS (SELECT source, lang, COUNT(*) AS cnt
               FROM documents GROUP BY 1, 2),
    t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
                 MAX(cnt) AS top_cnt
          FROM c GROUP BY source)
    SELECT c.source, t.n_docs, COUNT(*) AS n_langs,
        {DET.det_round_sql(
            "CAST(SUM(CAST(-(cnt / CAST(n_docs AS DOUBLE))"
            " * ln(cnt / CAST(n_docs AS DOUBLE)) AS DECIMAL(20,6)))"
            " AS DOUBLE)", 6
        )} AS lang_entropy,
        top_cnt * 1000000 // n_docs AS top_share_ppm
    FROM c JOIN t ON c.source = t.source
    GROUP BY c.source, t.n_docs, t.top_cnt
"""


@query(ORACLE_LANG_ENTROPY)
def q_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity audit: Shannon entropy of the language mix per
    source, plus dominant-language share in ppm — the balance report a
    multilingual training mix is tuned against.  Exact arithmetic
    everywhere it can be: counts stay int64, the dominant share is an
    integer ppm division, and each p*ln(p) term quantizes to
    DECIMAL(20,6) before the (bounded, n_langs-row) sum.  One partial
    agg to (source, lang) — tiny — then a per-source rollup."""
    docs = _t(spark, sf_dir, "documents")
    by_lang = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = by_lang.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"), F.max("cnt").alias("top_cnt")
    )
    p = F.col("cnt").cast("double") / F.col("n_docs").cast("double")
    term = (-p * F.log(p)).cast("decimal(20,6)")
    return (
        by_lang.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            DET.det_round(F.sum(term).cast("double"), 6).alias(
                "lang_entropy"
            ),
            F.expr("first(top_cnt) * 1000000 div first(n_docs)").alias(
                "top_share_ppm"
            ),
        )
    )


ORACLE_PSI = f"""
    WITH b AS (SELECT event_type,
            CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN 1 ELSE 2 END AS half,
            LEAST(9, CAST(FLOOR(value / 50.0) AS INT)) AS bin
        FROM events),
    c AS (SELECT event_type, bin,
            COUNT(*) FILTER (WHERE half = 1) AS c1,
            COUNT(*) FILTER (WHERE half = 2) AS c2
          FROM b GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2
          FROM c GROUP BY 1)
    SELECT c.event_type, t.n1 AS n_first_half, t.n2 AS n_second_half,
        {DET.det_round_sql(
            "CAST(SUM(CAST(((c2 + 1) / CAST(n2 + 10 AS DOUBLE)"
            "     - (c1 + 1) / CAST(n1 + 10 AS DOUBLE))"
            " * ln(((c2 + 1) / CAST(n2 + 10 AS DOUBLE))"
            "      / ((c1 + 1) / CAST(n1 + 10 AS DOUBLE)))"
            " AS DECIMAL(20,6))) AS DOUBLE)", 6
        )} AS psi
    FROM c JOIN t ON c.event_type = t.event_type
    GROUP BY c.event_type, t.n1, t.n2
"""


@query(ORACLE_PSI)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type: distribution drift of
    event value between the first and second half of the month (split
    at 2024-01-16) over 10 fixed-width bins — the ML-monitoring metric
    that decides whether a feature or label distribution moved enough
    to retrain.  PSI = sum (p2-p1) * ln(p2/p1), Laplace-smoothed so an
    empty bin cannot produce infinities; each term quantizes to
    DECIMAL(20,6) before the (10-row) sum.  One scan, one partial agg
    to (type, half, bin) — bounded rows — then a broadcast-size
    pivot."""
    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < split, F.lit(1)).otherwise(F.lit(2)).alias("half"),
        F.least(
            F.lit(9), F.floor(F.col("value") / F.lit(50.0)).cast("int")
        ).alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.count_if(F.col("half") == 1).alias("c1"),
        F.count_if(F.col("half") == 2).alias("c2"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    p1 = (F.col("c1") + F.lit(1)).cast("double") / (
        F.col("n1") + F.lit(10)
    ).cast("double")
    p2 = (F.col("c2") + F.lit(1)).cast("double") / (
        F.col("n2") + F.lit(10)
    ).cast("double")
    term = ((p2 - p1) * F.log(p2 / p1)).cast("decimal(20,6)")
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n1").alias("n_first_half"),
            F.first("n2").alias("n_second_half"),
            DET.det_round(F.sum(term).cast("double"), 6).alias("psi"),
        )
    )


ORACLE_LEAD_LAG = f"""
    WITH hourly AS (SELECT
            epoch_us(ts) // 3600000000 AS h,
            COUNT(*) FILTER (WHERE event_type = 'view') AS nv,
            COUNT(*) FILTER (WHERE event_type = 'purchase') AS np
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY 1),
    b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
    dense AS (SELECT spine.h, COALESCE(nv, 0) AS nv, COALESCE(np, 0) AS np
              FROM spine LEFT JOIN hourly ON spine.h = hourly.h),
    lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    j AS (SELECT lag, a.nv AS x, c.np AS y
          FROM dense a CROSS JOIN lags
          JOIN dense c ON a.h + lag = c.h),
    agg AS (SELECT lag, COUNT(*) AS n_points,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * y) AS BIGINT) AS sxy,
            CAST(SUM(x * x) AS BIGINT) AS sxx,
            CAST(SUM(y * y) AS BIGINT) AS syy
        FROM j GROUP BY lag)
    SELECT lag, n_points,
        {DET.det_round_sql(
            "CAST(n_points * sxy - sx * sy AS DOUBLE)"
            " / NULLIF(sqrt(CAST(n_points * sxx - sx * sx AS DOUBLE))"
            "    * sqrt(CAST(n_points * syy - sy * sy AS DOUBLE)), 0.0)", 6
        )} AS r
    FROM agg
"""


@query(ORACLE_LEAD_LAG)
def q_lead_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag diagnosis: Pearson correlation between hourly 'view'
    and 'purchase' counts at lags -3..+3 hours — the cross-correlation
    scan that finds how far engagement leads conversion.  The hour
    series densifies over an integer hour spine (missing hours count
    0 — real gaps, not dropped points), every sum is exact int64
    (counts and their products), and r forms from those integers with
    one IEEE sqrt each side + det_round.  Scale shape: one corpus
    partial agg to (hour, type) counts; everything after runs on the
    <=744-row month spine x 7 lags."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .select(
            # integer div, NOT floor(x / 3.6e9): micros exceed 2^53, so
            # the double route would round hours near the boundary
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("h"),
            "event_type",
        )
        .groupBy("h")
        .agg(
            F.count_if(F.col("event_type") == "view").alias("nv"),
            F.count_if(F.col("event_type") == "purchase").alias("np"),
        )
    )
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).head()
    h0, h1 = bounds["h0"], bounds["h1"]
    spine = spark.range(h0, h1 + 1).select(F.col("id").alias("h"))
    dense = (
        spine.join(hourly, "h", "left")
        .select(
            "h",
            F.coalesce("nv", F.lit(0)).alias("nv"),
            F.coalesce("np", F.lit(0)).alias("np"),
        )
    )
    lags = spark.createDataFrame([(l,) for l in range(-3, 4)], "lag int")
    x = dense.select("h", F.col("nv").alias("x"))
    y = dense.select(F.col("h").alias("hy"), F.col("np").alias("y"))
    joined = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("h") + F.col("lag") == F.col("hy"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = (
        F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    den = F.sqrt(
        (F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
    ) * F.sqrt(
        (F.col("n_points") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
    )
    return joined.select(
        "lag",
        "n_points",
        DET.det_round(num / den, 6).alias("r"),
    ).orderBy("lag")


ORACLE_SEPARABILITY = """
    WITH e AS (SELECT label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    ex AS (SELECT label, i AS dim,
            CAST(FLOOR(v[i + 1] * 1000000.0 + 0.5) AS BIGINT) AS xm
        FROM e, (SELECT unnest(range(64)) AS i) r),
    per_ld AS (SELECT label, dim, COUNT(*) AS n,
            CAST(SUM(xm) AS HUGEINT) AS s,
            CAST(SUM(CAST(xm AS HUGEINT) * CAST(xm AS HUGEINT))
                 AS HUGEINT) AS ss
        FROM ex GROUP BY 1, 2),
    gl AS (SELECT dim, COUNT(*) AS gn,
            CAST(SUM(xm) AS HUGEINT) AS gs
        FROM ex GROUP BY dim),
    terms AS (SELECT label,
            ss - s * s // CAST(n AS HUGEINT) AS w,
            CAST(n AS HUGEINT)
            * (s // CAST(n AS HUGEINT) - gs // CAST(gn AS HUGEINT))
            * (s // CAST(n AS HUGEINT) - gs // CAST(gn AS HUGEINT)) AS b
        FROM per_ld JOIN gl ON per_ld.dim = gl.dim),
    agg AS (SELECT label, SUM(w) AS within_, SUM(b) AS between_
            FROM terms GROUP BY label)
    SELECT label,
        (FLOOR((CAST(between_ AS DOUBLE)
                / NULLIF(CAST(within_ AS DOUBLE), 0.0))
               * 1000000.0 + 0.5) / 1000000.0) AS fisher_ratio
    FROM agg
"""


@query(ORACLE_SEPARABILITY)
def q_embedding_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label separability of the embedding space: per label, the ratio
    of between-class to within-class scatter (the Fisher-criterion
    diagonal), accumulated in deterministic truncated micro-unit
    integer arithmetic (DECIMAL(38,0) div — bit-equal to DuckDB's
    HUGEINT //) before ONE final double division — tells a pipeline
    whether labels are linearly separable enough to train on.  Scale
    shape: two partial aggs (per-label dim sums at label x dim
    cardinality, then global); nothing but label-count
    rows ever reaches the driver."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # posexplode to (label, dim, micro-value): the per-(label, dim)
    # moment sums are the whole state — label x dim cardinality rows,
    # never vectors, cross the shuffle
    ex = emb.select(
        "label", F.posexplode("v").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("xm"),
    )
    per_ld = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("s"),
        # DECIMAL accumulation: xm*xm ~ 1e12, so a BIGINT sum wraps
        # past ~9.2e6 rows per (label, dim); the oracle uses HUGEINT
        F.sum(
            F.col("xm").cast("decimal(38,0)")
            * F.col("xm").cast("decimal(38,0)")
        ).alias("ss"),
    )
    glob = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("gn"), F.sum("xm").alias("gs")
    )
    # within = sum_l (ss_l - s_l^2/n_l); between = sum_l n_l*(mu_l-mu)^2
    # — all in DECIMAL(38,0) micro^2 space, one double division at the
    # end (DECIMAL div verified bit-equal to HUGEINT //)
    j = per_ld.join(F.broadcast(glob), "dim")
    terms = j.select(
        "label",
        F.expr(
            "CAST(ss AS DECIMAL(38,0))"
            " - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))"
            "   div CAST(n AS DECIMAL(38,0))"
        ).alias("w"),
        F.expr(
            "CAST(n AS DECIMAL(38,0))"
            " * (CAST(s AS DECIMAL(38,0)) div CAST(n AS DECIMAL(38,0))"
            "    - CAST(gs AS DECIMAL(38,0)) div CAST(gn AS DECIMAL(38,0)))"
            " * (CAST(s AS DECIMAL(38,0)) div CAST(n AS DECIMAL(38,0))"
            "    - CAST(gs AS DECIMAL(38,0)) div CAST(gn AS DECIMAL(38,0)))"
        ).alias("b"),
    )
    out = terms.groupBy("label").agg(
        F.sum("w").alias("within"), F.sum("b").alias("between")
    )
    return out.select(
        "label",
        DET.det_round(
            F.col("between").cast("double") / F.col("within").cast("double"),
            6,
        ).alias("fisher_ratio"),
    )


ORACLE_AB_TEST = f"""
    WITH pu AS (SELECT
            CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'),
                1, 15))::BIGINT % 2 AS BIGINT) AS variant,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS conv
        FROM events GROUP BY user_id),
    r AS (SELECT
            CAST(COUNT(CASE WHEN variant = 0 THEN 1 END) AS BIGINT)
                AS n_a,
            CAST(SUM(CASE WHEN variant = 0 THEN conv END) AS BIGINT)
                AS c_a,
            CAST(COUNT(CASE WHEN variant = 1 THEN 1 END) AS BIGINT)
                AS n_b,
            CAST(SUM(CASE WHEN variant = 1 THEN conv END) AS BIGINT)
                AS c_b
        FROM pu)
    SELECT n_a, c_a AS conv_a, c_a * 1000000 // n_a AS conv_a_ppm,
        n_b, c_b AS conv_b, c_b * 1000000 // n_b AS conv_b_ppm,
        {DET.det_round_sql(
            '(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)'
            ' - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))'
            ' / NULLIF(SQRT((CAST(c_a + c_b AS DOUBLE)'
            ' / CAST(n_a + n_b AS DOUBLE))'
            ' * (1.0 - CAST(c_a + c_b AS DOUBLE)'
            ' / CAST(n_a + n_b AS DOUBLE))'
            ' * (1.0 / CAST(n_a AS DOUBLE)'
            ' + 1.0 / CAST(n_b AS DOUBLE))), 0.0)', 6
        )} AS z_score
    FROM r
"""


@query(ORACLE_AB_TEST)
def q_ab_test_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic hash split: users are
    assigned to variants A/B by the same md5 60-bit hash the
    train/val/test split uses (so assignment is reproducible across
    runs, engines, and repartitioning — the property a real experiment
    assignment needs), the conversion metric is "user has >= 1
    purchase event", and the z statistic is the pooled-proportion
    closed form.  Counts are exact integers; the z double is the
    identical IEEE expression on both engines over exactly-representable
    integer inputs, det_round(6); conversion rates are exact ppm.

    Scale shape: one shuffle to user cardinality (partial-agg
    combine), then a single conditional-sum reduce to ONE row — the
    100 TB shape of every experiment readout."""
    ev = _t(spark, sf_dir, "events")
    v = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit("#ab"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    per_user = (
        ev.select("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(v.alias("variant"), "conv")
    )
    r = per_user.agg(
        F.count_if(F.col("variant") == 0).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv"))).alias("c_a"),
        F.count_if(F.col("variant") == 1).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv"))).alias("c_b"),
    )
    pa = F.expr("CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)")
    pb = F.expr("CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)")
    pp = F.expr(
        "CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"
    )
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.expr("CAST(n_a AS DOUBLE)")
            + F.lit(1.0) / F.expr("CAST(n_b AS DOUBLE)")
        )
    )
    return r.select(
        "n_a",
        F.col("c_a").alias("conv_a"),
        F.expr("c_a * 1000000 div n_a").alias("conv_a_ppm"),
        "n_b",
        F.col("c_b").alias("conv_b"),
        F.expr("c_b * 1000000 div n_b").alias("conv_b_ppm"),
        DET.det_round((pa - pb) / F.nullif(se, F.lit(0.0)), 6).alias(
            "z_score"
        ),
    )


ORACLE_MUTUAL_INFO = f"""
    WITH cells AS (SELECT event_type,
            (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
            CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM events GROUP BY 1, 2),
    cx AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
        FROM cells GROUP BY event_type),
    cy AS (SELECT dow, CAST(SUM(n_xy) AS BIGINT) AS n_y
        FROM cells GROUP BY dow),
    nn AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells)
    SELECT cells.event_type, cells.dow, n_xy, n_x, n_y, n,
        {DET.det_round_sql(
            "(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)) * ("
            + DET.det_round_sql("ln(CAST(n_xy AS DOUBLE))", 9)
            + " + " + DET.det_round_sql("ln(CAST(n AS DOUBLE))", 9)
            + " - " + DET.det_round_sql("ln(CAST(n_x AS DOUBLE))", 9)
            + " - " + DET.det_round_sql("ln(CAST(n_y AS DOUBLE))", 9)
            + ")", 9
        )} AS mi_contrib_nats
    FROM cells JOIN cx ON cells.event_type = cx.event_type
               JOIN cy ON cells.dow = cy.dow
               CROSS JOIN nn
"""


@query(ORACLE_MUTUAL_INFO)
def q_mutual_info_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual-information table between two categorical
    features: event_type x day-of-week (dow 0 = Monday, derived as
    (epoch_day + 3) % 7 — engine-independent integer arithmetic, no
    locale-sensitive dayofweek()).  Each cell carries its exact counts
    and its MI contribution p_xy * (ln c_xy + ln n - ln c_x - ln c_y)
    in nats — the feature-dependence screen run before treating
    features as independent in a mixture design.  Every ln is
    det_round(9) of an exact integer count, the weight p_xy is one
    IEEE division, and the product is det_round(9)-emitted: identical
    doubles on both engines by construction (no cross-cell sum, so no
    order dependence anywhere).

    Scale shape: one corpus partial agg to (type, dow) cells (~35
    rows); marginals re-aggregate the cell table; everything after the
    first agg is dimension-sized with broadcast joins."""
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr(
                "(unix_micros(CAST(ts AS TIMESTAMP))"
                " div 86400000000 + 3) % 7"
            ).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    cx = cells.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    cy = cells.groupBy("dow").agg(F.sum("n_xy").alias("n_y"))
    n = cells.agg(F.sum("n_xy").alias("n"))
    ln9 = lambda col: DET.det_round(  # noqa: E731
        F.log(F.col(col).cast("double")), 9
    )
    joined = (
        cells.join(F.broadcast(cx), "event_type")
        .join(F.broadcast(cy), "dow")
        .crossJoin(F.broadcast(n))
    )
    term = ln9("n_xy") + ln9("n") - ln9("n_x") - ln9("n_y")
    pxy = F.col("n_xy").cast("double") / F.col("n").cast("double")
    return joined.select(
        "event_type",
        "dow",
        "n_xy",
        "n_x",
        "n_y",
        "n",
        DET.det_round(pxy * term, 9).alias("mi_contrib_nats"),
    )


ORACLE_MARKOV_ENTROPY = f"""
    WITH seq AS (SELECT user_id, event_type AS src,
            LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS dst
        FROM events),
    pairs AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM seq
              WHERE dst IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src,
            CAST(COUNT(*) AS BIGINT) AS n_dsts
        FROM pairs GROUP BY src),
    per AS (SELECT pairs.src, n_src, n_dsts,
            CAST(FLOOR((CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE))
                * ({DET.det_round_sql('ln(CAST(n_src AS DOUBLE))', 9)}
                   - {DET.det_round_sql('ln(CAST(n AS DOUBLE))', 9)})
                * 1000000000.0 + 0.5) AS BIGINT) AS t_nano
        FROM pairs JOIN tot ON pairs.src = tot.src)
    SELECT src, n_src, n_dsts,
        CAST(SUM(t_nano) AS BIGINT) AS entropy_nano
    FROM per GROUP BY src, n_src, n_dsts
"""


@query(ORACLE_MARKOV_ENTROPY)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy H(dst | src) per source state, in
    exact nano-nats: sum over destinations of p * (ln n_src - ln n)
    where each ln is det_round(9) of an exact count and each term is
    half-up quantized to int64 BEFORE the cross-destination sum — so
    the sum is order-independent (integer addition commutes; a double
    sum here would be partition-order-dependent).  The sequence-
    predictability screen on top of markov_transitions: low entropy =
    scripted/bot-like flows, high = organic.

    Scale shape: identical to markov_transitions (one user-partitioned
    lead window, one (src, dst) agg); the entropy rollup runs at
    state-pair cardinality."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("src").agg(
        F.sum("n").alias("n_src"), F.count(F.lit(1)).alias("n_dsts")
    )
    ln9 = lambda c: DET.det_round(  # noqa: E731
        F.log(F.col(c).cast("double")), 9
    )
    term = (
        F.col("n").cast("double") / F.col("n_src").cast("double")
    ) * (ln9("n_src") - ln9("n"))
    per = pairs.join(F.broadcast(tot), "src").select(
        "src",
        "n_src",
        "n_dsts",
        F.floor(term * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("t_nano"),
    )
    return per.groupBy("src", "n_src", "n_dsts").agg(
        F.sum("t_nano").alias("entropy_nano")
    )


def _corr_sql(sab, sa, sb, saa, sbb):
    num = f"(dn * {sab} - {sa} * {sb})"
    den = (
        f"sqrt((dn * {saa} - {sa} * {sa}) * (dn * {sbb} - {sb} * {sb}))"
    )
    return DET.det_round_sql(f"{num} / {den}", 6)


ORACLE_CORR_MATRIX = f"""
    WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)
                AS HUGEINT)) AS sx,
            SUM(CAST(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5)
                AS BIGINT) AS HUGEINT)) AS sy,
            SUM(CAST(CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT)
                AS HUGEINT)) AS sz,
            SUM(CAST(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)
                AS HUGEINT)
              * CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT))
                AS sxx,
            SUM(CAST(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5)
                AS BIGINT) AS HUGEINT)
              * CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT))
                AS syy,
            SUM(CAST(CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT)
                AS HUGEINT)
              * CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT))
                AS szz,
            SUM(CAST(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)
                AS HUGEINT)
              * CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT))
                AS sxy,
            SUM(CAST(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT)
                AS HUGEINT)
              * CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT))
                AS sxz,
            SUM(CAST(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5)
                AS BIGINT) AS HUGEINT)
              * CAST(FLOOR(l_discount * 1000000.0 + 0.5) AS BIGINT))
                AS syz
        FROM lineitem),
    br AS (SELECT n AS n_rows, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
            CAST(CAST(sz AS VARCHAR) AS DOUBLE) AS dsz,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
            CAST(CAST(szz AS VARCHAR) AS DOUBLE) AS dszz,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy,
            CAST(CAST(sxz AS VARCHAR) AS DOUBLE) AS dsxz,
            CAST(CAST(syz AS VARCHAR) AS DOUBLE) AS dsyz
        FROM m)
    SELECT n_rows,
        {_corr_sql('dsxy', 'dsx', 'dsy', 'dsxx', 'dsyy')}
            AS corr_qty_price,
        {_corr_sql('dsxz', 'dsx', 'dsz', 'dsxx', 'dszz')}
            AS corr_qty_disc,
        {_corr_sql('dsyz', 'dsy', 'dsz', 'dsyy', 'dszz')}
            AS corr_price_disc
    FROM br
"""


@query(ORACLE_CORR_MATRIX)
def q_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over (quantity, extendedprice,
    discount) in ONE fact-table pass: all ten moment sums (n, three
    first moments, three squares, three cross products) accumulate as
    exact micro-int DECIMAL(38,0) sums — order-independent, overflow-
    safe past 1e31 — then bridge to double through VARCHAR (the
    dispersion idiom: int128-to-double casts double-round) and apply
    the closed form once, det_round(6).  The multicollinearity screen
    run before fitting anything on these columns.

    Scale shape: one partial-combined single-row aggregation; zero
    joins, zero shuffles beyond the final combine."""
    li = _t(spark, sf_dir, "lineitem")
    q = "CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)"
    p = "CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)"
    d = "CAST(floor(l_discount * 1000000.0 + 0.5) AS BIGINT)"
    dec = "DECIMAL(38,0)"
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST({q} AS {dec}))").alias("sx"),
        F.expr(f"SUM(CAST({p} AS {dec}))").alias("sy"),
        F.expr(f"SUM(CAST({d} AS {dec}))").alias("sz"),
        F.expr(f"SUM(CAST({q} AS {dec}) * {q})").alias("sxx"),
        F.expr(f"SUM(CAST({p} AS {dec}) * {p})").alias("syy"),
        F.expr(f"SUM(CAST({d} AS {dec}) * {d})").alias("szz"),
        F.expr(f"SUM(CAST({q} AS {dec}) * {p})").alias("sxy"),
        F.expr(f"SUM(CAST({q} AS {dec}) * {d})").alias("sxz"),
        F.expr(f"SUM(CAST({p} AS {dec}) * {d})").alias("syz"),
    )
    br = m.select(
        F.col("n").alias("n_rows"),
        F.expr("CAST(n AS DOUBLE)").alias("dn"),
        *[
            F.expr(f"CAST(CAST({c} AS STRING) AS DOUBLE)").alias(
                "d" + c
            )
            for c in (
                "sx",
                "sy",
                "sz",
                "sxx",
                "syy",
                "szz",
                "sxy",
                "sxz",
                "syz",
            )
        ],
    )

    def corr(sab, sa, sb, saa, sbb):
        num = F.col("dn") * F.col(sab) - F.col(sa) * F.col(sb)
        den = F.sqrt(
            (F.col("dn") * F.col(saa) - F.col(sa) * F.col(sa))
            * (F.col("dn") * F.col(sbb) - F.col(sb) * F.col(sb))
        )
        return DET.det_round(num / den, 6)

    return br.select(
        "n_rows",
        corr("dsxy", "dsx", "dsy", "dsxx", "dsyy").alias(
            "corr_qty_price"
        ),
        corr("dsxz", "dsx", "dsz", "dsxx", "dszz").alias(
            "corr_qty_disc"
        ),
        corr("dsyz", "dsy", "dsz", "dsyy", "dszz").alias(
            "corr_price_disc"
        ),
    )


ORACLE_SILHOUETTE = f"""
    WITH e AS (SELECT vec_id, label,
            list_transform(embedding, x ->
                CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT)) AS vm
        FROM embeddings),
    ex AS (SELECT label, d.i AS dim, vm[d.i + 1] AS xm
        FROM e, unnest(generate_series(0, len(vm) - 1)) AS d(i)),
    cent AS (SELECT label, dim,
            CAST(CAST(SUM(xm) AS BIGINT) // COUNT(*) AS BIGINT) AS cm
        FROM ex GROUP BY 1, 2),
    carr AS (SELECT label AS clabel, list(cm ORDER BY dim) AS cvec
        FROM cent GROUP BY label),
    p AS (SELECT e.vec_id, e.label, c.clabel,
            CAST(list_sum(list_transform(generate_series(1, len(vm)),
                i -> (vm[i] - cvec[i]) * (vm[i] - cvec[i])))
                AS BIGINT) AS dist
        FROM e CROSS JOIN carr c),
    s AS (SELECT vec_id, label,
            MAX(CASE WHEN clabel = label THEN dist END) AS d_own,
            MIN(CASE WHEN clabel <> label THEN dist END) AS d_other
        FROM p GROUP BY 1, 2),
    s9 AS (SELECT label,
            CAST({DET.det_round_sql(
                'CASE WHEN GREATEST(d_own, d_other) = 0 THEN 0.0'
                ' ELSE (CAST(d_other AS DOUBLE) - CAST(d_own AS DOUBLE))'
                ' / CAST(GREATEST(d_own, d_other) AS DOUBLE) END', 9
            )} AS DECIMAL(18,9)) AS s9
        FROM s)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        {DET.det_round_sql(
            'CAST(CAST(SUM(s9) AS VARCHAR) AS DOUBLE)'
            ' / CAST(COUNT(*) AS DOUBLE)', 6
        )} AS mean_silhouette
    FROM s9 GROUP BY label
"""


@query(ORACLE_SILHOUETTE)
def q_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per embedding label: a = distance to
    the own-label centroid, b = distance to the nearest other
    centroid, s = (b - a) / max(a, b) — the cluster-quality audit that
    says whether labels are geometrically meaningful (medoid-free
    silhouette: the classic per-pair form is O(n²), this form is the
    standard scalable variant).  Distances are EXACT int64 on micro-
    quantized components (the jl idiom; centroids are truncated-mean
    micro vectors — Spark div == DuckDB // toward zero, both engines
    verified); the ratio is one IEEE division on <2^53 integers,
    det_round(9), quantized to DECIMAL(18,9) before the per-label mean
    so the cross-row sum is exact and order-independent.

    Scale shape: centroid build is a (label, dim)-cardinality agg;
    the assignment stage is a bounded broadcast nested loop (vectors x
    10 centroid rows — the types-x-spine class); per-vector min/max
    aggregate at vector cardinality, the final agg at label
    cardinality."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("vm"),
    )
    ex = emb.select("label", F.posexplode("vm").alias("dim", "xm"))
    cent = ex.groupBy("label", "dim").agg(
        F.expr("SUM(xm) div COUNT(*)").alias("cm")
    )
    carr = (
        cent.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "cm"))
            ).alias("pc")
        )
        .select(
            F.col("label").alias("clabel"),
            F.transform(
                F.col("pc"), lambda s: s.getField("cm")
            ).alias("cvec"),
        )
    )
    dist = F.aggregate(
        F.zip_with("vm", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    p = emb.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", "clabel", dist.alias("dist")
    )
    s = p.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("dist"))
        ).alias("d_own"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dist"))
        ).alias("d_other"),
    )
    sil = F.when(
        F.greatest("d_own", "d_other") == 0, F.lit(0.0)
    ).otherwise(
        (
            F.col("d_other").cast("double")
            - F.col("d_own").cast("double")
        )
        / F.greatest("d_own", "d_other").cast("double")
    )
    s9 = s.select(
        "label",
        DET.det_round(sil, 9).cast("decimal(18,9)").alias("s9"),
    )
    agg = s9.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("s9").alias("ssum")
    )
    return agg.select(
        "label",
        "n_vecs",
        DET.det_round(
            F.expr("CAST(CAST(ssum AS STRING) AS DOUBLE)")
            / F.col("n_vecs").cast("double"),
            6,
        ).alias("mean_silhouette"),
    )


ORACLE_KM_SURVIVAL = f"""
    WITH pu AS (SELECT user_id,
            MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                AS t0,
            MAX(epoch_us(ts)) AS t_last
        FROM events GROUP BY user_id),
    pv AS (SELECT * FROM pu WHERE t0 IS NOT NULL),
    de AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_death
        FROM events e JOIN pv ON e.user_id = pv.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= pv.t0
        GROUP BY e.user_id),
    u AS (SELECT CASE WHEN t_death IS NOT NULL
                 THEN (t_death - t0) // 86400000000
                 ELSE (t_last - t0) // 86400000000 END AS end_day,
            t_death IS NOT NULL AS is_death
        FROM pv LEFT JOIN de ON pv.user_id = de.user_id),
    g AS (SELECT end_day,
            CAST(SUM(CASE WHEN is_death THEN 1 ELSE 0 END) AS BIGINT)
                AS n_deaths,
            CAST(SUM(CASE WHEN is_death THEN 0 ELSE 1 END) AS BIGINT)
                AS n_censored
        FROM u GROUP BY end_day),
    tot AS (SELECT CAST(SUM(n_deaths + n_censored) AS BIGINT)
            AS n_total FROM g),
    risk AS (SELECT end_day, n_deaths, n_censored,
            n_total - COALESCE(CAST(SUM(n_deaths + n_censored)
                OVER (ORDER BY end_day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                AS n_risk
        FROM g CROSS JOIN tot),
    steps AS (SELECT end_day, n_risk, n_deaths, n_censored,
            CASE WHEN n_deaths = n_risk
                 THEN CAST(-1000000000000000 AS BIGINT)
                 ELSE CAST(FLOOR((
                    {DET.det_round_sql(
                        'ln(CAST(n_risk - n_deaths AS DOUBLE))', 9)}
                    - {DET.det_round_sql('ln(CAST(n_risk AS DOUBLE))', 9)}
                    ) * 1000000000.0 + 0.5) AS BIGINT) END AS t_nano
        FROM risk WHERE n_deaths > 0),
    cum AS (SELECT end_day AS day, n_risk, n_deaths, n_censored,
            CAST(SUM(t_nano) OVER (ORDER BY day ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS survival_lnano
        FROM steps)
    SELECT day, n_risk, n_deaths, n_censored, survival_lnano,
        {DET.det_round_sql(
            'exp(CAST(survival_lnano AS DOUBLE) / 1000000000.0)', 6
        )} AS survival
    FROM cum
"""


@query(ORACLE_KM_SURVIVAL)
def q_km_survival_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve with right-censoring: per
    user, "death" = first purchase at/after the first view, censor =
    last observed event otherwise — the survival-analysis answer to
    "how long do users take to convert, given most never do" (naive
    latency averages over converters only are survivorship-biased).
    Per death-day step, ln(1 - d/n) accumulates as HALF-UP-QUANTIZED
    int64 nano-nats (det-rounded ln of exact counts; the
    markov_entropy idiom) so the running product is an EXACT integer
    cumulative sum — survival_lnano is bit-exact, and the companion
    double is det_round(6) of one exp.  A step that kills all at-risk
    users takes a -1e15 sentinel (exp underflows to exactly 0.0 on
    both engines) instead of ln(0).

    Scale shape: two user-cardinality aggregations (first-view /
    last-event, then earliest qualifying purchase), a ≤ O(days)
    day-step table, and bounded windows over it (the waterfill
    dimension-window class)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view",
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))"),
            )
        ).alias("t0"),
        F.max(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        ).alias("t_last"),
    ).filter(F.col("t0").isNotNull())
    ev2 = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
    )
    deaths = (
        per_user.join(ev2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("t_us") >= F.col("t0"))
        )
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_death"))
    )
    u = per_user.join(deaths, "user_id", "left").select(
        F.expr(
            "CASE WHEN t_death IS NOT NULL"
            " THEN (t_death - t0) div 86400000000"
            " ELSE (t_last - t0) div 86400000000 END"
        ).alias("end_day"),
        F.col("t_death").isNotNull().alias("is_death"),
    )
    g = u.groupBy("end_day").agg(
        F.count_if(F.col("is_death")).alias("n_deaths"),
        F.count_if(~F.col("is_death")).alias("n_censored"),
    )
    w_prev = Window.orderBy("end_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = g.agg(
        F.sum(F.expr("n_deaths + n_censored")).alias("n_total")
    )
    risk = g.crossJoin(F.broadcast(tot)).select(
        "end_day",
        "n_deaths",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.expr("n_deaths + n_censored")).over(w_prev),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    ln9 = lambda c: DET.det_round(  # noqa: E731
        F.log(c.cast("double")), 9
    )
    term = F.when(
        F.col("n_deaths") == F.col("n_risk"),
        F.lit(-1_000_000_000_000_000).cast("bigint"),
    ).otherwise(
        F.floor(
            (
                ln9(F.col("n_risk") - F.col("n_deaths"))
                - ln9(F.col("n_risk"))
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("bigint")
    )
    steps = risk.filter(F.col("n_deaths") > 0).select(
        "end_day", "n_risk", "n_deaths", "n_censored", term.alias("t_nano")
    )
    w_cum = Window.orderBy("end_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.select(
        F.col("end_day").alias("day"),
        "n_risk",
        "n_deaths",
        "n_censored",
        F.sum("t_nano").over(w_cum).alias("survival_lnano"),
    ).select(
        "day",
        "n_risk",
        "n_deaths",
        "n_censored",
        "survival_lnano",
        DET.det_round(
            F.exp(F.col("survival_lnano").cast("double") / F.lit(1e9)),
            6,
        ).alias("survival"),
    )


_WILSON = (
    "((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    " + 3.8416 / (2.0 * CAST(n AS DOUBLE)) {sign} 1.96 * sqrt("
    "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
    " + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
    " / (1.0 + 3.8416 / CAST(n AS DOUBLE))"
)

ORACLE_WILSON = f"""
    WITH pu AS (SELECT
            CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'),
                1, 15))::BIGINT % 2 AS BIGINT) AS variant,
            CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                END) AS BIGINT) AS conv
        FROM events GROUP BY user_id),
    arms AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(conv) AS BIGINT) AS c
        FROM pu GROUP BY variant)
    SELECT variant, n, c AS conversions,
        c * 1000000 // n AS rate_ppm,
        {DET.det_round_sql(_WILSON.format(sign='-'), 6)} AS wilson_lo,
        {DET.det_round_sql(_WILSON.format(sign='+'), 6)} AS wilson_hi
    FROM arms
"""


@query(ORACLE_WILSON)
def q_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for the per-arm conversion rate of the
    deterministic A/B split (ab_test_zscores' arms) — the uncertainty
    quantification a rate without an interval is missing; Wilson stays
    valid at small counts where the normal interval collapses.  Counts
    are exact integers; the interval is the closed-form IEEE expression
    on those integers (z = 1.96 literal), det_round(6) on both
    engines."""
    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.max(
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            )
        ).alias("conv")
    ).select(
        F.expr(
            "CAST(conv AS BIGINT) AS conv"
        ),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"), F.lit("#ab")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(2),
        ).alias("variant"),
    )
    arms = pu.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    # z = 1.96; z^2 is the DECIMAL LITERAL 3.8416 on BOTH engines —
    # Python's 1.96*1.96 is 1 ulp below the parsed literal the oracle
    # uses, which would break the bit-for-bit contract at a rounding
    # boundary
    z2 = 3.8416
    ph = F.col("c").cast("double") / F.col("n").cast("double")
    nn = F.col("n").cast("double")
    denom = F.lit(1.0) + F.lit(z2) / nn
    center = ph + F.lit(z2) / (F.lit(2.0) * nn)
    rad = F.lit(1.96) * F.sqrt(
        ph * (F.lit(1.0) - ph) / nn
        + F.lit(z2) / (F.lit(4.0) * nn * nn)
    )
    return arms.select(
        "variant",
        "n",
        F.col("c").alias("conversions"),
        F.expr("c * 1000000 div n").alias("rate_ppm"),
        DET.det_round((center - rad) / denom, 6).alias("wilson_lo"),
        DET.det_round((center + rad) / denom, 6).alias("wilson_hi"),
    )


ORACLE_HILL = f"""
    WITH top AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x
        FROM documents ORDER BY x DESC, doc_id ASC LIMIT 201),
    r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, doc_id ASC)
            AS i
        FROM top),
    xk1 AS (SELECT x AS xk1 FROM r WHERE i = 201),
    terms AS (SELECT CAST(FLOOR((
            {DET.det_round_sql('ln(CAST(x AS DOUBLE))', 9)}
            - {DET.det_round_sql('ln(CAST(xk1 AS DOUBLE))', 9)})
            * 1000000000.0 + 0.5) AS BIGINT) AS t_nano
        FROM r CROSS JOIN xk1 WHERE i <= 200)
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
        CAST(SUM(t_nano) // COUNT(*) AS BIGINT) AS hill_h_nano,
        {DET.det_round_sql(
            'CAST(COUNT(*) AS DOUBLE) * 1000000000.0'
            ' / CAST(SUM(t_nano) AS DOUBLE)', 6
        )} AS tail_alpha
    FROM terms
"""


@query(ORACLE_HILL)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail index over the top
    k=200 order statistics: H = mean(ln X_(i) - ln X_(k+1)), alpha =
    1/H — the heavy-tail screen that says whether max-length caps or
    sequence packing budgets are driven by a power law or by outliers.
    Each ln difference is det-rounded and HALF-UP-QUANTIZED to int64
    nano-nats before the mean (exact integer sum; H_nano = sum div k),
    alpha is one det_round(6) IEEE division.

    Scale shape: TakeOrdered(k+1) is the only corpus-touching stage;
    everything after runs on 201 rows."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    k = 200
    top = (
        docs.select("doc_id", F.col("n_chars").cast("bigint").alias("x"))
        .orderBy(F.col("x").desc(), F.col("doc_id").asc())
        .limit(k + 1)
    )
    w = Window.orderBy(F.col("x").desc(), F.col("doc_id").asc())
    r = top.select(
        "x", F.row_number().over(w).alias("i")
    )
    xk1 = r.filter(F.col("i") == k + 1).select(
        F.col("x").alias("xk1")
    )
    ln9 = lambda c: DET.det_round(  # noqa: E731
        F.log(F.col(c).cast("double")), 9
    )
    terms = (
        r.filter(F.col("i") <= k)
        .crossJoin(F.broadcast(xk1))
        .select(
            F.floor(
                (ln9("x") - ln9("xk1")) * F.lit(1e9) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("t_nano")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("t_nano").alias("sum_nano"),
    ).select(
        "k",
        F.expr("sum_nano div k").alias("hill_h_nano"),
        DET.det_round(
            F.col("k").cast("double")
            * F.lit(1e9)
            / F.col("sum_nano").cast("double"),
            6,
        ).alias("tail_alpha"),
    )


ORACLE_BRADLEY_TERRY = """
    WITH brands AS MATERIALIZED (SELECT DISTINCT p_brand AS brand FROM part),
    lb AS MATERIALIZED (SELECT l.l_orderkey AS ok, l.l_linenumber AS ln,
            p.p_brand AS brand, l.l_quantity AS q
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    duels AS MATERIALIZED (SELECT
            CASE WHEN a.q > b.q THEN a.brand ELSE b.brand END AS winner,
            CASE WHEN a.q > b.q THEN b.brand ELSE a.brand END AS loser,
            CAST(COUNT(*) AS BIGINT) AS w
        FROM lb a JOIN lb b ON a.ok = b.ok AND a.ln < b.ln
        WHERE a.brand <> b.brand AND a.q <> b.q
        GROUP BY 1, 2),
    w AS MATERIALIZED (SELECT x.brand AS x, y.brand AS y,
            CAST(1 + COALESCE(d.w, 0) AS HUGEINT) AS wxy
        FROM brands x JOIN brands y ON x.brand <> y.brand
        LEFT JOIN duels d ON d.winner = x.brand AND d.loser = y.brand),
    n AS MATERIALIZED (SELECT a.x, a.y, a.wxy + b.wxy AS nxy
        FROM w a JOIN w b ON a.x = b.y AND a.y = b.x),
    wt AS MATERIALIZED (SELECT x, SUM(wxy) AS bw FROM w GROUP BY x),
    nb AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM brands),
    s0 AS (SELECT brand, CAST(1000000 AS HUGEINT) AS s FROM brands),
    d1 AS (SELECT n.x,
            SUM(nxy * 1000000000000 // (sx.s + sy.s)) AS den
        FROM n JOIN s0 sx ON n.x = sx.brand
               JOIN s0 sy ON n.y = sy.brand GROUP BY n.x),
    r1 AS (SELECT wt.x AS brand, bw * 1000000000000 // den AS s
        FROM wt JOIN d1 ON wt.x = d1.x),
    s1 AS (SELECT brand,
            s * (SELECT b * 1000000 FROM nb)
              // (SELECT SUM(s) FROM r1) AS s
        FROM r1),
    d2 AS (SELECT n.x,
            SUM(nxy * 1000000000000 // (sx.s + sy.s)) AS den
        FROM n JOIN s1 sx ON n.x = sx.brand
               JOIN s1 sy ON n.y = sy.brand GROUP BY n.x),
    r2 AS (SELECT wt.x AS brand, bw * 1000000000000 // den AS s
        FROM wt JOIN d2 ON wt.x = d2.x),
    s2 AS (SELECT brand,
            s * (SELECT b * 1000000 FROM nb)
              // (SELECT SUM(s) FROM r2) AS s
        FROM r2),
    d3 AS (SELECT n.x,
            SUM(nxy * 1000000000000 // (sx.s + sy.s)) AS den
        FROM n JOIN s2 sx ON n.x = sx.brand
               JOIN s2 sy ON n.y = sy.brand GROUP BY n.x),
    r3 AS (SELECT wt.x AS brand, bw * 1000000000000 // den AS s
        FROM wt JOIN d3 ON wt.x = d3.x),
    s3 AS (SELECT brand,
            s * (SELECT b * 1000000 FROM nb)
              // (SELECT SUM(s) FROM r3) AS s
        FROM r3),
    obs_w AS (SELECT winner AS brand, CAST(SUM(w) AS BIGINT) AS wins
        FROM duels GROUP BY winner),
    obs_l AS (SELECT loser AS brand, CAST(SUM(w) AS BIGINT) AS losses
        FROM duels GROUP BY loser),
    obs AS (SELECT b.brand,
            CAST(COALESCE(ow.wins, 0) AS BIGINT) AS wins,
            CAST(COALESCE(ow.wins, 0) + COALESCE(ol.losses, 0)
                AS BIGINT) AS comparisons
        FROM brands b
        LEFT JOIN obs_w ow ON b.brand = ow.brand
        LEFT JOIN obs_l ol ON b.brand = ol.brand)
    SELECT s3.brand, CAST(s3.s AS BIGINT) AS strength_micro,
        obs.wins, obs.comparisons
    FROM s3 JOIN obs ON s3.brand = obs.brand
    ORDER BY strength_micro DESC, s3.brand
"""


@query(ORACLE_BRADLEY_TERRY)
def q_bradley_terry_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference strengths over part brands, the
    reward-model-data primitive: every within-order pair of lineitems
    with different brands and strictly different quantities is one
    duel (higher quantity wins); three exact-integer MM iterations
    with add-one smoothing produce globally comparable micro-unit
    strengths.  See operators/ranking.py for the fixed-point contract
    the oracle replays term for term.

    Scale shape: duel generation is the corpus stage — an equi
    self-join on l_orderkey (<=21 pairs per 7-line order) partial-
    aggregating to brand-pair cardinality; the MM solve runs on that
    bounded matrix (brands are a dim attribute, ~25 values at every
    TPC-H scale), a bounded collect by construction — the same class
    as the BPE top-1 / IVF-centroid collects."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lb = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_brand").alias("brand"),
        "l_quantity",
    )
    duels = RK.duel_matrix(
        lb, ["l_orderkey"], "brand", "l_quantity", "l_linenumber"
    )
    rows = duels.collect()  # bounded: brand-pair cardinality
    brands = sorted(
        r["p_brand"] for r in part.select("p_brand").distinct().collect()
    )
    obs = {(r["winner"], r["loser"]): int(r["w"]) for r in rows}
    strength = RK.bradley_terry_micro(brands, obs, iters=3)
    out = []
    for x in brands:
        wins = sum(obs.get((x, y), 0) for y in brands)
        comps = wins + sum(obs.get((y, x), 0) for y in brands)
        out.append((x, strength[x], wins, comps))
    res = spark.createDataFrame(
        out,
        "brand STRING, strength_micro LONG, wins LONG, comparisons LONG",
    )
    return res.orderBy(F.desc("strength_micro"), "brand")


ORACLE_ACF = f"""
    WITH o AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
                AS cents4
        FROM orders),
    daily AS (SELECT day, CAST(SUM(cents4) AS BIGINT) AS v
        FROM o GROUP BY day),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    spine AS (SELECT g.day AS day, COALESCE(daily.v, 0) AS v
        FROM (SELECT unnest(generate_series(
                (SELECT d0 FROM bounds), (SELECT d1 FROM bounds)))
                AS day) g
        LEFT JOIN daily ON g.day = daily.day),
    lagged AS (SELECT s.day, s.v, l.lag AS lag, s.day - l.lag AS prev_day
        FROM spine s, unnest(generate_series(1, 7)) AS l(lag)),
    xy AS (SELECT lagged.lag, lagged.v AS v, p.v AS pv
        FROM lagged JOIN spine p ON lagged.prev_day = p.day),
    m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(v AS HUGEINT)) AS sx,
            SUM(CAST(pv AS HUGEINT)) AS sy,
            SUM(CAST(v AS HUGEINT) * v) AS sxx,
            SUM(CAST(pv AS HUGEINT) * pv) AS syy,
            SUM(CAST(v AS HUGEINT) * pv) AS sxy
        FROM xy GROUP BY lag),
    br AS (SELECT lag, n AS n_pairs, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy
        FROM m)
    SELECT lag, n_pairs,
        {DET.det_round_sql(
            '(dn * dsxy - dsx * dsy) / NULLIF('
            'sqrt((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)),'
            ' 0.0)', 6
        )} AS acf
    FROM br ORDER BY lag
"""


@query(ORACLE_ACF)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily order revenue at lags 1..7 —
    the weekly-seasonality detector feeding forecast / anomaly
    thresholds (companion to seasonal_decompose_daily, which ASSUMES
    a period; this measures it).  Pearson r over (day t, day t-L)
    pairs on the ZERO-FILLED dense day spine; revenue in exact 4dp
    fixed point (the DECIMAL(12,4) price idiom), all six moments in
    DECIMAL(38,0)/HUGEINT, VARCHAR-bridged closed form, det6.

    Scale shape: the corpus stage is one day-cardinality aggregate;
    the spine (~2.4k rows, bounded by the DATE DOMAIN, never corpus
    size) explodes x7 lags and equi-joins itself on (day - lag) —
    dimension-sized work; moments partial-combine to 7 rows."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS LONG)"
        ).alias("cents4"),
    )
    daily = o.groupBy("day").agg(F.sum("cents4").alias("v"))
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).head()
    spine = (
        spark.range(bounds["d0"], bounds["d1"] + 1)
        .select(F.col("id").alias("day"))
        .join(daily, "day", "left")
        .select("day", F.coalesce("v", F.lit(0)).alias("v"))
    )
    lagged = spine.select(
        "day",
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    ).withColumn("prev_day", F.col("day") - F.col("lag"))
    prev = spine.select(
        F.col("day").alias("prev_day"), F.col("v").alias("pv")
    )
    xy = lagged.join(prev, "prev_day")
    dec = "DECIMAL(38,0)"
    m = xy.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(v AS {dec}))").alias("sx"),
        F.expr(f"SUM(CAST(pv AS {dec}))").alias("sy"),
        F.expr(f"SUM(CAST(v AS {dec}) * v)").alias("sxx"),
        F.expr(f"SUM(CAST(pv AS {dec}) * pv)").alias("syy"),
        F.expr(f"SUM(CAST(v AS {dec}) * pv)").alias("sxy"),
    )
    br = m.select(
        "lag",
        F.expr("CAST(n AS BIGINT)").alias("n_pairs"),
        F.expr("CAST(n AS DOUBLE)").alias("dn"),
        *[
            F.expr(f"CAST(CAST({c} AS STRING) AS DOUBLE)").alias("d" + c)
            for c in ("sx", "sy", "sxx", "syy", "sxy")
        ],
    )
    num = F.col("dn") * F.col("dsxy") - F.col("dsx") * F.col("dsy")
    den = F.sqrt(
        (F.col("dn") * F.col("dsxx") - F.col("dsx") * F.col("dsx"))
        * (F.col("dn") * F.col("dsyy") - F.col("dsy") * F.col("dsy"))
    )
    return br.select(
        "lag",
        "n_pairs",
        DET.det_round(num / F.nullif(den, F.lit(0.0)), 6).alias("acf"),
    ).orderBy("lag")


ORACLE_MANN_KENDALL = f"""
    WITH o AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
                AS cents4
        FROM orders),
    daily AS (SELECT day, CAST(SUM(cents4) AS BIGINT) AS v
        FROM o GROUP BY day),
    s AS (SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day),
    tg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY v),
    ties AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
            CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM tg),
    r AS (SELECT n AS n_days, s_stat,
            CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)
                AS var_s_x18
        FROM s CROSS JOIN ties)
    SELECT n_days, s_stat, var_s_x18,
        {DET.det_round_sql(
            "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
            " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
            " ELSE CAST(0 AS DOUBLE) END)"
            " / SQRT(CAST(var_s_x18 AS DOUBLE) / 18.0)", 6
        )} AS z_score,
        CASE WHEN s_stat > 0 THEN 'increasing'
             WHEN s_stat < 0 THEN 'decreasing'
             ELSE 'no_trend' END AS direction
    FROM r
"""


# ---------------------------------------------------------------- wave 7k
@query(ORACLE_MANN_KENDALL)


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily order revenue — the
    distribution-free companion to theil_sen_trend (which estimates the
    slope; this tests whether a monotone trend EXISTS, robust to
    outliers and any monotone transform of revenue).  S = sum over day
    pairs i<j of sign(x_j - x_i), exact integer; Var(S) carries the
    standard tie correction (sum over tied-value groups of
    t(t-1)(2t+5)), also exact — we emit 18*Var to stay integral; the
    z statistic applies the +-1 continuity correction and is the
    identical IEEE sqrt/divide on both engines (det6).

    Scale shape: corpus work is ONE day-cardinality aggregate; the
    pair join runs on the ~2.4k-row daily series (bounded by the DATE
    DOMAIN, not corpus size — the acf_daily_revenue precedent), so
    ~3M sign evaluations regardless of SF; ties roll up at distinct-
    value cardinality; one row out."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS LONG)"
        ).alias("cents4"),
    )
    # one corpus aggregate, materialized once: the ~2.4k-row daily
    # series is referenced three times below (both pair sides + ties),
    # and the broadcast side could not reuse the shuffle exchange —
    # localCheckpoint truncates the lineage so orders is scanned ONCE
    # (roundtrip_route_topics barrier precedent; day-bounded, tiny)
    daily = o.groupBy("day").agg(F.sum("cents4").alias("v")).localCheckpoint()
    a = daily.select(F.col("day").alias("di"), F.col("v").alias("xi"))
    b = daily.select(F.col("day").alias("dj"), F.col("v").alias("xj"))
    pairs = a.join(F.broadcast(b), F.col("di") < F.col("dj"))
    s = pairs.agg(
        F.expr(
            "SUM(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1"
            " ELSE 0 END)"
        ).alias("s_stat")
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum("t").alias("n"),
            F.sum(
                F.expr("t * (t - 1) * (2 * t + 5)")
            ).alias("tie_term"),
        )
    )
    r = s.crossJoin(F.broadcast(ties)).select(
        F.expr("CAST(n AS BIGINT)").alias("n_days"),
        F.expr("CAST(s_stat AS BIGINT)").alias("s_stat"),
        F.expr(
            "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)"
        ).alias("var_s_x18"),
    )
    zc = F.expr(
        "CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
        " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
        " ELSE CAST(0 AS DOUBLE) END"
        " / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0)"
    )
    return r.select(
        "n_days",
        "s_stat",
        "var_s_x18",
        DET.det_round(zc, 6).alias("z_score"),
        F.expr(
            "CASE WHEN s_stat > 0 THEN 'increasing'"
            " WHEN s_stat < 0 THEN 'decreasing'"
            " ELSE 'no_trend' END"
        ).alias("direction"),
    )


_RUNS_TWO = "CAST(2 AS BIGINT) * n1 * n2"

ORACLE_RUNS_TEST = f"""
    WITH o AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
                AS cents4
        FROM orders),
    daily AS (SELECT day, CAST(SUM(cents4) AS BIGINT) AS v
        FROM o GROUP BY day),
    ranked AS (SELECT day, v,
            ROW_NUMBER() OVER (ORDER BY v, day) AS rn,
            COUNT(*) OVER () AS n_all
        FROM daily),
    med AS (SELECT v AS med FROM ranked
        WHERE rn = (n_all + 1) // 2),
    signed AS (SELECT day, CAST(v > med AS INT) AS above
        FROM daily CROSS JOIN med WHERE v <> med),
    seq AS (SELECT above,
            LAG(above) OVER (ORDER BY day) AS prev
        FROM signed),
    r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(above) AS BIGINT) AS n1,
            CAST(COUNT(CASE WHEN above = 0 THEN 1 END) AS BIGINT)
                AS n2,
            CAST(COUNT(CASE WHEN prev IS NULL OR above <> prev
                THEN 1 END) AS BIGINT) AS runs
        FROM seq)
    SELECT n AS n_days_used, n1 AS n_above, n2 AS n_below, runs,
        CAST(({_RUNS_TWO}) * 1000000 // n + 1000000 AS BIGINT)
            AS expected_runs_micro,
        {DET.det_round_sql(
            "(CAST(runs AS DOUBLE) - (CAST(" + _RUNS_TWO + " AS DOUBLE)"
            " / CAST(n AS DOUBLE) + 1.0))"
            " / SQRT(CAST(" + _RUNS_TWO + " AS DOUBLE)"
            " * (" + _RUNS_TWO + " - n)"
            " / (CAST(n AS DOUBLE) * n * (n - 1)))", 6
        )} AS z_score
    FROM r
"""


@query(ORACLE_RUNS_TEST)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is daily revenue's above/below-median
    sequence random, or does it clump (momentum / regime persistence)?
    Days equal to the median drop (standard treatment); the median is
    the lower median by deterministic (value, day) rank so both
    engines pick the identical pivot.  Run count, n_above, n_below
    are exact integers; expected runs is emitted in exact micro-units
    (2*n1*n2*1e6 div n + 1e6); z is the shared IEEE closed form
    (det6).

    Scale shape: one day-cardinality aggregate, then rank + lag
    windows over the ~2.4k-row daily series — bounded by the DATE
    DOMAIN, so the single-partition window is dimension-sized at any
    SF (acf precedent); one row out."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS LONG)"
        ).alias("cents4"),
    )
    # materialize the day-bounded series once (see mann_kendall note)
    daily = o.groupBy("day").agg(F.sum("cents4").alias("v")).localCheckpoint()
    wv = Window.orderBy("v", "day")
    wall = Window.partitionBy()
    ranked = daily.select(
        "day",
        "v",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_all"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n_all + 1) div 2")
    ).select(F.col("v").alias("med"))
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("med"))
        .select(
            "day", F.expr("CAST(v > med AS INT)").alias("above")
        )
    )
    wd = Window.orderBy("day")
    seq = signed.select(
        "above", F.lag("above").over(wd).alias("prev")
    )
    r = seq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("above").alias("n1"),
        F.count_if(F.col("above") == 0).alias("n2"),
        F.count_if(
            F.col("prev").isNull() | (F.col("above") != F.col("prev"))
        ).alias("runs"),
    )
    two = "CAST(2 AS BIGINT) * n1 * n2"
    z = F.expr(
        f"(CAST(runs AS DOUBLE) - (CAST({two} AS DOUBLE)"
        " / CAST(n AS DOUBLE) + 1.0))"
        f" / sqrt(CAST({two} AS DOUBLE) * ({two} - n)"
        " / (CAST(n AS DOUBLE) * n * (n - 1)))"
    )
    return r.select(
        F.expr("CAST(n AS BIGINT)").alias("n_days_used"),
        F.expr("CAST(n1 AS BIGINT)").alias("n_above"),
        F.expr("CAST(n2 AS BIGINT)").alias("n_below"),
        F.expr("CAST(runs AS BIGINT)").alias("runs"),
        F.expr(
            f"CAST(({two}) * 1000000 div n + 1000000 AS BIGINT)"
        ).alias("expected_runs_micro"),
        DET.det_round(z, 6).alias("z_score"),
    )


ORACLE_KENDALL_TAU = f"""
    WITH o AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
                AS cents4
        FROM orders),
    daily AS (SELECT day, CAST(SUM(cents4) AS BIGINT) AS x,
            CAST(COUNT(*) AS BIGINT) AS y
        FROM o GROUP BY day),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
            CAST(COUNT(CASE WHEN (a.x < b.x AND a.y < b.y)
                OR (a.x > b.x AND a.y > b.y) THEN 1 END) AS BIGINT)
                AS nc,
            CAST(COUNT(CASE WHEN (a.x < b.x AND a.y > b.y)
                OR (a.x > b.x AND a.y < b.y) THEN 1 END) AS BIGINT)
                AS nd,
            CAST(COUNT(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 END)
                AS BIGINT) AS tx,
            CAST(COUNT(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 END)
                AS BIGINT) AS ty,
            CAST(COUNT(CASE WHEN a.x = b.x AND a.y = b.y THEN 1 END)
                AS BIGINT) AS txy
        FROM daily a JOIN daily b ON a.day < b.day)
    SELECT n0, nc, nd, tx, ty, txy,
        {DET.det_round_sql(
            "(CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))"
            " / SQRT(CAST(n0 - tx - txy AS DOUBLE)"
            " * CAST(n0 - ty - txy AS DOUBLE))", 6
        )} AS tau_b
    FROM g
"""


# ---------------------------------------------------------------- wave 7w
@query(ORACLE_KENDALL_TAU)


def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily order count — the
    third nonparametric association measure (spearman_lineitem ranks
    the fact table; mann_kendall tests ONE series for trend; tau-b
    asks whether two daily series move together, robust to any
    monotone transform and exact under ties).  Concordant/discordant/
    tied pair counts are exact integers from the calendar-bounded pair
    join (the mann_kendall localCheckpoint shape); tau-b's denominator
    is the one shared IEEE sqrt, det6.

    Scale shape: ONE corpus aggregate to the ~2.4k-row daily series
    (checkpointed), a dimension-sized pair join, one row out."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS LONG)"
        ).alias("cents4"),
    )
    daily = (
        o.groupBy("day")
        .agg(
            F.sum("cents4").alias("x"), F.count(F.lit(1)).alias("y")
        )
        .localCheckpoint()
    )
    a = daily.select(
        F.col("day").alias("di"),
        F.col("x").alias("xi"),
        F.col("y").alias("yi"),
    )
    b = daily.select(
        F.col("day").alias("dj"),
        F.col("x").alias("xj"),
        F.col("y").alias("yj"),
    )
    pairs = a.join(F.broadcast(b), F.col("di") < F.col("dj"))
    g = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if(
            F.expr(
                "(xi < xj AND yi < yj) OR (xi > xj AND yi > yj)"
            )
        ).alias("nc"),
        F.count_if(
            F.expr(
                "(xi < xj AND yi > yj) OR (xi > xj AND yi < yj)"
            )
        ).alias("nd"),
        F.count_if(F.expr("xi = xj AND yi <> yj")).alias("tx"),
        F.count_if(F.expr("yi = yj AND xi <> xj")).alias("ty"),
        F.count_if(F.expr("xi = xj AND yi = yj")).alias("txy"),
    )
    tau = (
        "(CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))"
        " / SQRT(CAST(n0 - tx - txy AS DOUBLE)"
        " * CAST(n0 - ty - txy AS DOUBLE))"
    )
    return g.select(
        "n0",
        "nc",
        "nd",
        "tx",
        "ty",
        "txy",
        DET.det_round(F.expr(tau), 6).alias("tau_b"),
    )


ORACLE_GRUBBS = f"""
    WITH o AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS usd
        FROM orders),
    daily AS (SELECT day, CAST(SUM(usd) AS BIGINT) AS x
        FROM o GROUP BY day),
    mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        FROM daily),
    dev AS (SELECT day, n, s, q,
            ABS(CAST(n AS HUGEINT) * x - s) AS ad
        FROM daily CROSS JOIN mo),
    m AS (SELECT MAX(ad) AS mad FROM dev),
    arg AS (SELECT CAST(MIN(day) AS BIGINT) AS outlier_day
        FROM dev CROSS JOIN m WHERE ad = mad)
    SELECT n AS n_days, outlier_day,
        CAST(mad // n AS BIGINT) AS max_absdev_usd,
        {DET.det_round_sql(
            "CAST(CAST(mad AS VARCHAR) AS DOUBLE) / (CAST(n AS DOUBLE)"
            " * SQRT((CAST(CAST(q AS VARCHAR) AS DOUBLE)"
            " - CAST(CAST(s AS VARCHAR) AS DOUBLE)"
            " * CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))"
            " / (CAST(n AS DOUBLE) - 1.0)))", 6
        )} AS grubbs_g
    FROM dev CROSS JOIN m CROSS JOIN arg
    GROUP BY n, s, q, outlier_day, mad
"""


@query(ORACLE_GRUBBS)
def q_grubbs_daily_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic for the most extreme revenue day:
    G = max|x - mean| / sd over the daily series — the single-outlier
    test a reporting pipeline runs before trusting its worst day
    (robust_outlier_events flags by MAD rule-of-thumb; Grubbs is the
    parametric test with a distributional null).  The argmax day is
    found on EXACT integers (max |n*x - S|, ties to the earliest
    day), G itself is the one bridged IEEE closed form, det6.

    Scale shape: corpus agg to the day-bounded series (checkpointed),
    one 1-row moment agg broadcast back, exact-integer argmax."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").alias("usd"),
    )
    daily = o.groupBy("day").agg(F.sum("usd").alias("x")).localCheckpoint()
    dec = "DECIMAL(38,0)"
    mo = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}))").alias("s"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(mo)).select(
        "day",
        "n",
        "s",
        "q",
        F.expr(f"abs(CAST(n AS {dec}) * x - s)").alias("ad"),
    )
    # argmax day with deterministic ties (earliest): a second bounded
    # pass over the checkpointed day series, filtered on the exact max
    m = dev.agg(F.max("ad").alias("mad"))
    arg = (
        dev.crossJoin(F.broadcast(m.select(F.col("mad").alias("m2"))))
        .filter(F.col("ad") == F.col("m2"))
        .agg(F.min("day").alias("outlier_day"))
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    gstat = (
        f"{br('mad')} / ({dn}"
        f" * SQRT(({br('q')} - {br('s')} * {br('s')} / {dn})"
        f" / ({dn} - 1.0)))"
    )
    base = dev.groupBy("n", "s", "q").agg(F.max("ad").alias("mad"))
    return base.crossJoin(F.broadcast(arg)).select(
        F.expr("CAST(n AS BIGINT)").alias("n_days"),
        F.col("outlier_day").cast("bigint").alias("outlier_day"),
        F.expr("CAST(mad div n AS BIGINT)").alias("max_absdev_usd"),
        DET.det_round(F.expr(gstat), 6).alias("grubbs_g"),
    )


ORACLE_COOKS = f"""
    WITH li AS (SELECT l_orderkey, l_linenumber,
            CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
            CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x
        FROM lineitem),
    mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
            CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
            CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM li),
    b AS (SELECT n,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
        FROM mo),
    scored AS (SELECT l_orderkey, l_linenumber, x, y,
            {DET.det_round_sql(
                "(((CAST(y AS DOUBLE) - (dxy / dxx) * CAST(x AS DOUBLE))"
                " * (CAST(y AS DOUBLE) - (dxy / dxx) * CAST(x AS DOUBLE))"
                " * (CAST(x AS DOUBLE) * CAST(x AS DOUBLE) / dxx))"
                " / (((dyy - dxy * dxy / dxx) / (CAST(n AS DOUBLE) - 1.0))"
                " * (1.0 - CAST(x AS DOUBLE) * CAST(x AS DOUBLE) / dxx)"
                " * (1.0 - CAST(x AS DOUBLE) * CAST(x AS DOUBLE) / dxx)))"
                " * 1000000.0", 6
            )} AS cooks_d_micro
        FROM li CROSS JOIN b)
    SELECT l_orderkey, l_linenumber, x, y, cooks_d_micro
    FROM scored
    ORDER BY cooks_d_micro DESC, l_orderkey, l_linenumber LIMIT 20
"""


@query(ORACLE_COOKS)
def q_cooks_distance_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression diagnostics: the 20 most influential lineitems for
    the through-origin price-on-quantity fit, ranked by Cook's
    distance D_i = r_i^2 h_i / (p s^2 (1 - h_i)^2) with leverage
    h_i = x_i^2 / Sxx — the rows whose deletion moves the fitted slope
    most (regression_price_qty reports the fit; this says which rows
    OWN it).  Slope and Sxx come from one exact-moment pass; per-row
    leverage and residual are exact rationals bridged once to a shared
    IEEE expression, ranked det6 with a key tie-break.

    Scale shape: one 1-row moment aggregate broadcast back, per-row
    closed form in the scan projection, TakeOrdered(20)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("y"),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("x"),
    )
    dec = "DECIMAL(38,0)"
    mo = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("sxx"),
        F.expr(f"SUM(CAST(x AS {dec}) * y)").alias("sxy"),
        F.expr(f"SUM(CAST(y AS {dec}) * y)").alias("syy"),
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    # slope b = sxy/sxx; residual r = y - b x; SSE = syy - sxy^2/sxx;
    # s^2 = SSE/(n-1); h = x^2/sxx; D = r^2 h / (s^2 (1-h)^2)
    b = f"({br('sxy')} / {br('sxx')})"
    s2 = (
        f"(({br('syy')} - {br('sxy')} * {br('sxy')} / {br('sxx')})"
        f" / (CAST(n AS DOUBLE) - 1.0))"
    )
    h = f"(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) / {br('sxx')})"
    r = f"(CAST(y AS DOUBLE) - {b} * CAST(x AS DOUBLE))"
    d = (
        f"({r} * {r} * {h})"
        f" / ({s2} * (1.0 - {h}) * (1.0 - {h}))"
    )
    scored = li.crossJoin(F.broadcast(mo)).select(
        "l_orderkey",
        "l_linenumber",
        "x",
        "y",
        DET.det_round(F.expr(f"{d} * 1000000.0"), 6).alias(
            "cooks_d_micro"
        ),
    )
    return scored.orderBy(
        F.desc("cooks_d_micro"), "l_orderkey", "l_linenumber"
    ).limit(20)
