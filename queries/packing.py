"""Layout and packing queries over ``operators.layout`` and
``operators.packing``: Z-order/Hilbert layouts, file-skipping audits,
sequence packing and systematic samples."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import layout as LAY
from kafka_firehose_nozzle_spark.operators import text as TX

from ._base import _t, query

ORACLE_PACK_SEQUENCES = """
    WITH t AS (SELECT doc_id,
        len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))
            AS n_toks
    FROM documents),
    a AS (SELECT doc_id, n_toks,
              CAST(FLOOR((SUM(n_toks) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_toks) / 2048) AS BIGINT) AS pack_id
          FROM t)
    SELECT pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM a GROUP BY pack_id
"""


@query(ORACLE_PACK_SEQUENCES)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential context-window packing: documents are concatenated in
    doc_id order and cut every 2048 tokens (the way LLM training packs
    samples); each doc is assigned the pack its FIRST token lands in.
    The global running sum uses the two-pass prefix-sum operator
    (operators/packing.py) — range partition, per-partition subtotals,
    broadcast offsets, PARTITIONED cumulative window — never the
    single-task unpartitioned window Spark would otherwise plan."""
    from kafka_firehose_nozzle_spark.operators.packing import pack_assignments

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_toks")
    )
    assigned = pack_assignments(
        base, order_col="doc_id", weight_col="n_toks", pack_size=2048
    )
    return assigned.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _zorder_oracle() -> str:
    scale_c = ("((c - c_lo) * 1023) // (CASE WHEN c_hi - c_lo > 1 "
               "THEN c_hi - c_lo ELSE 1 END)")
    scale_d = ("((d - d_lo) * 1023) // (CASE WHEN d_hi - d_lo > 1 "
               "THEN d_hi - d_lo ELSE 1 END)")
    zk = LAY.zorder_key2_sql(f"({scale_c})", f"({scale_d})", bits=10)
    return f"""
    WITH o AS (SELECT o_custkey AS c,
                      datediff('day', DATE '1992-01-01', o_orderdate) AS d
               FROM orders),
    b AS (SELECT MIN(c) AS c_lo, MAX(c) AS c_hi,
                 MIN(d) AS d_lo, MAX(d) AS d_hi FROM o),
    z AS (SELECT c, d, {zk} >> 14 AS zbucket FROM o CROSS JOIN b)
    SELECT zbucket, COUNT(*) AS n_orders,
           MIN(c) AS c_min, MAX(c) AS c_max,
           MIN(d) AS d_min, MAX(d) AS d_max
    FROM z GROUP BY zbucket
"""


ORACLE_ZORDER = _zorder_oracle()


@query(ORACLE_ZORDER)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering report over orders: minmax-scale
    (o_custkey, o_orderdate-as-days) to 10 bits each, interleave to a
    20-bit curve key, bucket by the top 6 bits, and emit each z-bucket's
    row count and per-dimension min/max spans.  Narrow spans in BOTH
    columns are the point: sorted by this key, parquet row-group stats
    prune scans for filters on EITHER dimension (single-column sort only
    prunes one).  The key is a flat BIGINT shift/mask OR-chain — pure
    codegen projection, bounds from one broadcast 1-row aggregate; the
    layout write itself is exercised in
    tests/test_operators.py::test_zorder_write_narrows_file_stats."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("d"),
    )
    bounds = o.agg(
        F.min("c").alias("c_lo"),
        F.max("c").alias("c_hi"),
        F.min("d").alias("d_lo"),
        F.max("d").alias("d_hi"),
    )
    zkey = LAY.scaled_zorder2(
        F.col("c"), F.col("c_lo"), F.col("c_hi"),
        F.col("d"), F.col("d_lo"), F.col("d_hi"),
        bits=10,
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select("c", "d", F.shiftright(zkey, 14).alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("c").alias("c_min"),
            F.max("c").alias("c_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
    )


ORACLE_ABC = """
    WITH rev AS (SELECT l_partkey,
            SUM(CAST(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT)) AS rev
        FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM(rev) AS total FROM rev),
    cum AS (SELECT rev,
            SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cum_rev
        FROM rev),
    classed AS (SELECT
            CASE WHEN cum_rev * 1000000 // total <= 800000 THEN 'A'
                 WHEN cum_rev * 1000000 // total <= 950000 THEN 'B'
                 ELSE 'C' END AS abc_class,
            rev, total
        FROM cum CROSS JOIN tot)
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(SUM(rev) * 1000000 // MAX(total) AS BIGINT)
            AS rev_share_ppm
    FROM classed GROUP BY abc_class
"""


@query(ORACLE_ABC)
def q_abc_part_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts bucketed A/B/C by cumulative
    revenue share (80 / 95 / rest, revenue-descending) — the Pareto
    actionable form (lorenz_deciles draws the curve; this assigns the
    classes).  The corpus-wide cumulative runs through the repo's
    two-pass distributed prefix sum (operators/packing.py::
    with_global_running_sum — rangepartitioning + per-partition
    subtotals; NO single-partition window over parts), ordered by a
    unique fixed-width STRING key encoding (revenue DESC, partkey
    ASC) whose lexicographic order equals the numeric order.  Row
    revenues micro-quantize on the shared IEEE double; sums stay
    DECIMAL(38,0)/HUGEINT; shares are exact ppm.

    Scale shape: fact agg to part cardinality, the scalable prefix
    sum over parts, and a 3-row class rollup."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.select(
        "l_partkey",
        F.expr(
            "CAST(floor(l_extendedprice * (1.0 - l_discount)"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("rm"),
    ).groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(rm AS DECIMAL(38,0))")).alias("rev")
    )
    tot = rev.agg(F.sum("rev").alias("total"))
    # unique ascending key == (revenue DESC, partkey ASC), encoded as a
    # fixed-width string: lexicographic order == numeric order, and no
    # arithmetic packing that could overflow DECIMAL(38) or collide
    # once partkeys outgrow a multiplier (an earlier -rev*1e7+partkey
    # encoding broke exactly there at TPC-H SF >= 50).  max_rev is one
    # bounded scalar action (the changepoint-bounds idiom).
    max_rev = rev.agg(F.max("rev").alias("m")).head()["m"]
    ordered = rev.select(
        "l_partkey",
        "rev",
        F.concat(
            F.lpad(
                (F.lit(max_rev) - F.col("rev")).cast("string"), 39, "0"
            ),
            F.lpad(F.col("l_partkey").cast("string"), 15, "0"),
        ).alias("ord"),
    )
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )

    cum = with_global_running_sum(ordered, "ord", "rev", "cum_rev")
    classed = cum.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CASE WHEN cum_rev * 1000000 div total <= 800000 THEN 'A'"
            " WHEN cum_rev * 1000000 div total <= 950000 THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc_class"),
        "rev",
        "total",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").alias("class_rev"),
            F.max("total").alias("total"),
        )
        .select(
            "abc_class",
            "n_parts",
            F.expr(
                "CAST(class_rev * 1000000 div total AS BIGINT)"
            ).alias("rev_share_ppm"),
        )
    )


ORACLE_LATENESS = """
    WITH rm AS (SELECT event_id, epoch_us(ts) AS t_us,
            MAX(epoch_us(ts)) OVER (ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS max_seen
        FROM events),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM rm)
    SELECT LEAST((max_seen - t_us) // 60000000, 120) AS minute_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(*) AS BIGINT) * 1000000 // n_total AS share_ppm
    FROM rm CROSS JOIN tot GROUP BY minute_bucket, n_total
"""


@query(ORACLE_LATENESS)
def q_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning profile: per event, lateness = (max event time
    seen so far in ARRIVAL order) - own event time, bucketed by minute
    (capped at 120) — the out-of-orderness distribution that decides
    `withWatermark` delay (how much state a given lateness bound would
    drop).  Arrival order is event_id (the ingest sequence).  The
    global running max runs through the two-pass distributed prefix
    max (operators/packing.py::with_global_running_max — prefix-MAX
    twin of the packing prefix sum; NO single-task window), exact
    microsecond integers throughout.

    Scale shape: rangepartition by event_id, per-partition maxima
    prefix-combined at partition cardinality, minute-bucket rollup
    bounded at 121 rows."""
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_max,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
    )
    rm = with_global_running_max(ev, "event_id", "t_us", "max_seen")
    tot = rm.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        rm.select(
            F.expr(
                "LEAST((max_seen - t_us) div 60000000, 120)"
            ).alias("minute_bucket")
        )
        .groupBy("minute_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "minute_bucket",
            "n_events",
            F.expr("n_events * 1000000 div n_total").alias(
                "share_ppm"
            ),
        )
    )


ORACLE_SPEARMAN = f"""
    WITH r AS (SELECT
            2*RANK() OVER (ORDER BY l_quantity)
                + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS r2q,
            2*RANK() OVER (ORDER BY l_extendedprice)
                + COUNT(*) OVER (PARTITION BY l_extendedprice) - 1 AS r2p,
            2*RANK() OVER (ORDER BY l_discount)
                + COUNT(*) OVER (PARTITION BY l_discount) - 1 AS r2d
        FROM lineitem),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(r2q AS HUGEINT)) AS sq,
            SUM(CAST(r2p AS HUGEINT)) AS sp,
            SUM(CAST(r2d AS HUGEINT)) AS sd,
            SUM(CAST(r2q AS HUGEINT) * r2q) AS sqq,
            SUM(CAST(r2p AS HUGEINT) * r2p) AS spp,
            SUM(CAST(r2d AS HUGEINT) * r2d) AS sdd,
            SUM(CAST(r2q AS HUGEINT) * r2p) AS sqp,
            SUM(CAST(r2q AS HUGEINT) * r2d) AS sqd,
            SUM(CAST(r2p AS HUGEINT) * r2d) AS spd
        FROM r),
    br AS (SELECT n AS n_rows, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(sq AS VARCHAR(64)) AS DOUBLE) AS dq,
            CAST(CAST(sp AS VARCHAR(64)) AS DOUBLE) AS dp,
            CAST(CAST(sd AS VARCHAR(64)) AS DOUBLE) AS dd,
            CAST(CAST(sqq AS VARCHAR(64)) AS DOUBLE) AS dqq,
            CAST(CAST(spp AS VARCHAR(64)) AS DOUBLE) AS dpp,
            CAST(CAST(sdd AS VARCHAR(64)) AS DOUBLE) AS ddd,
            CAST(CAST(sqp AS VARCHAR(64)) AS DOUBLE) AS dqp,
            CAST(CAST(sqd AS VARCHAR(64)) AS DOUBLE) AS dqd,
            CAST(CAST(spd AS VARCHAR(64)) AS DOUBLE) AS dpd
        FROM m)
    SELECT n_rows,
        {DET.det_round_sql(
            "(dn * dqp - dq * dp) / SQRT((dn * dqq - dq * dq)"
            " * (dn * dpp - dp * dp))", 6)} AS rho_qty_price,
        {DET.det_round_sql(
            "(dn * dqd - dq * dd) / SQRT((dn * dqq - dq * dq)"
            " * (dn * ddd - dd * dd))", 6)} AS rho_qty_disc,
        {DET.det_round_sql(
            "(dn * dpd - dp * dd) / SQRT((dn * dpp - dp * dp)"
            " * (dn * ddd - dd * dd))", 6)} AS rho_price_disc
    FROM br
"""


@query(ORACLE_SPEARMAN)
def q_spearman_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlations among (quantity, extendedprice,
    discount) — the monotonic-association screen Pearson
    (lineitem_corr_matrix) misses when the relationship is nonlinear.
    Average ranks with exact tie handling, kept integral as r2 =
    2*avg_rank (= 2*cum - cnt + 1 from per-value counts); all ten
    moment sums run in exact DECIMAL(38,0) (r2 <= 2n, products <= 4n^2
    — inside DECIMAL(38) past n = 1e11), bridge to double through
    VARCHAR (the dispersion idiom), one closed-form Pearson-on-ranks
    per pair, det_round(6).

    Scale shape: NO global row sort — ranks come from per-VALUE counts
    (groupBy at distinct-value cardinality) cumulated by the two-pass
    distributed prefix sum (operators/packing.py), then equi-joined
    back; quantity/discount rank maps broadcast, the price map joins
    at value cardinality.  One 10-moment partial-combined aggregate
    finishes."""
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )

    li = _t(spark, sf_dir, "lineitem")
    base = li.select("l_quantity", "l_extendedprice", "l_discount")
    ranked = base
    for col, tag in (
        ("l_quantity", "q"),
        ("l_extendedprice", "p"),
        ("l_discount", "d"),
    ):
        grp = base.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = with_global_running_sum(grp, col, "cnt", "_cum")
        r2 = cum.select(
            col,
            (2 * F.col("_cum") - F.col("cnt") + 1).alias(f"r2{tag}"),
        )
        ranked = ranked.join(r2, col)
    dec = "DECIMAL(38,0)"
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"SUM(CAST(r2{a} AS {dec}))").alias(f"s{a}")
            for a in "qpd"
        ],
        *[
            F.expr(f"SUM(CAST(r2{a} AS {dec}) * r2{b})").alias(
                f"s{a}{b}"
            )
            for a, b in ("qq", "pp", "dd", "qp", "qd", "pd")
        ],
    )
    br = m.select(
        F.col("n").alias("n_rows"),
        F.expr("CAST(n AS DOUBLE)").alias("dn"),
        *[
            F.expr(f"CAST(CAST(s{c} AS STRING) AS DOUBLE)").alias(
                f"d{c}"
            )
            for c in ("q", "p", "d", "qq", "pp", "dd", "qp", "qd", "pd")
        ],
    )

    def rho(sab, sa, sb, saa, sbb):
        num = F.col("dn") * F.col(sab) - F.col(sa) * F.col(sb)
        den = F.sqrt(
            (F.col("dn") * F.col(saa) - F.col(sa) * F.col(sa))
            * (F.col("dn") * F.col(sbb) - F.col(sb) * F.col(sb))
        )
        return DET.det_round(num / den, 6)

    return br.select(
        "n_rows",
        rho("dqp", "dq", "dp", "dqq", "dpp").alias("rho_qty_price"),
        rho("dqd", "dq", "dd", "dqq", "ddd").alias("rho_qty_disc"),
        rho("dpd", "dp", "dd", "dpp", "ddd").alias("rho_price_disc"),
    )


ORACLE_GAINS_CURVE = """
    WITH users AS (SELECT user_id,
            CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
                AS views,
            CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                AS purch
        FROM events GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(COUNT(*) FILTER (WHERE purch > 0) AS BIGINT) AS tot_pos
        FROM users),
    ranked AS (SELECT CASE WHEN purch > 0 THEN 1 ELSE 0 END AS pos,
            ROW_NUMBER() OVER (ORDER BY views DESC, user_id) AS rank
        FROM users),
    dec AS (SELECT ((rank - 1) * 10) // n_users AS decile,
            CAST(COUNT(*) AS BIGINT) AS n_in_decile,
            CAST(SUM(pos) AS BIGINT) AS n_pos,
            MAX(n_users) AS n_users, MAX(tot_pos) AS tot_pos
        FROM ranked CROSS JOIN tot GROUP BY 1)
    SELECT decile, n_in_decile, n_pos,
        CAST(SUM(n_in_decile) OVER w AS BIGINT) AS cum_users,
        CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
        n_users, tot_pos,
        CAST(CAST(SUM(n_pos) OVER w AS HUGEINT) * n_users * 1000000
             // (CAST(SUM(n_in_decile) OVER w AS HUGEINT) * tot_pos)
             AS BIGINT) AS lift_ppm
    FROM dec
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
"""


@query(ORACLE_GAINS_CURVE)
def q_gains_curve_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains (lift) curve: rank users by view count
    descending, cut into deciles, and measure how fast purchasers
    concentrate in the top — the canonical pre-deployment eval of any
    targeting score, here applied to the 'views predict purchase'
    heuristic.  Lift is exact ppm: (cum_pos * n_users * 1e6) div
    (cum_users * tot_pos) in DECIMAL(38,0).

    Scale shape: user-cardinality agg, then the global rank comes
    from the two-pass distributed prefix sum over a UNIQUE
    fixed-width string key (views DESC, user_id ASC — the abc
    lexicographic encoding, with a constant 1e18 ceiling instead of a
    data-dependent max so NO scalar action is needed); decile rollup
    is 10 rows, where the unpartitioned cum window is driver-scale by
    construction."""
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "view").alias("views"),
        F.count_if(F.col("event_type") == "purchase").alias("purch"),
    )
    keyed = users.select(
        F.concat(
            F.lpad(
                (F.lit(1000000000000000000) - F.col("views")).cast(
                    "string"
                ),
                19,
                "0",
            ),
            F.lpad(F.col("user_id").cast("string"), 19, "0"),
        ).alias("k"),
        (F.col("purch") > 0).cast("bigint").alias("pos"),
        F.lit(1).cast("bigint").alias("one"),
    )
    ranked = with_global_running_sum(keyed, "k", "one", "rank")
    tot = users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(F.col("purch") > 0).alias("tot_pos"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr("((rank - 1) * 10) div n_users").alias("decile"),
            "pos",
            "n_users",
            "tot_pos",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_in_decile"),
            F.sum("pos").alias("n_pos"),
            F.max("n_users").alias("n_users"),
            F.max("tot_pos").alias("tot_pos"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dec.select(
            "decile",
            "n_in_decile",
            "n_pos",
            F.sum("n_in_decile").over(w).alias("cum_users"),
            F.sum("n_pos").over(w).alias("cum_pos"),
            "n_users",
            "tot_pos",
        )
        .select(
            "decile",
            "n_in_decile",
            "n_pos",
            "cum_users",
            "cum_pos",
            "n_users",
            "tot_pos",
            F.expr(
                "CAST(CAST(cum_pos AS DECIMAL(38,0)) * n_users"
                " * 1000000 div (CAST(cum_users AS DECIMAL(38,0))"
                " * tot_pos) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("decile")
    )


def _hilbert_oracle() -> str:
    scale_c = (
        "((c - c_lo) * 31) // (CASE WHEN c_hi - c_lo > 1 "
        "THEN c_hi - c_lo ELSE 1 END)"
    )
    scale_d = (
        "((d - d_lo) * 31) // (CASE WHEN d_hi - d_lo > 1 "
        "THEN d_hi - d_lo ELSE 1 END)"
    )
    ctes = LAY.hilbert_oracle_ctes("sx", "sy", bits=5)
    return f"""
    WITH o AS (SELECT o_custkey AS c,
                      datediff('day', DATE '1992-01-01', o_orderdate) AS d
               FROM orders),
    b AS (SELECT MIN(c) AS c_lo, MAX(c) AS c_hi,
                 MIN(d) AS d_lo, MAX(d) AS d_hi FROM o),
    h_in AS (SELECT c, d, {scale_c} AS sx, {scale_d} AS sy
             FROM o CROSS JOIN b),
    {ctes}
    SELECT hkey >> 4 AS hbucket, COUNT(*) AS n_orders,
           MIN(c) AS c_min, MAX(c) AS c_max,
           MIN(d) AS d_min, MAX(d) AS d_max
    FROM h_out GROUP BY 1
"""


ORACLE_HILBERT = _hilbert_oracle()


# ---------------------------------------------------------------- wave 7c
@query(ORACLE_HILBERT)


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering report over orders — the locality
    upgrade over zorder_layout: Morton order makes 2^k-long diagonal
    jumps where the Hilbert curve moves one cell at a time, so
    per-bucket min/max spans (= parquet row-group stats after a
    layout write) stay narrower for the SAME bucket count.  Same
    minmax scaling as zorder_layout (5 bits/dim here), then the
    staged xy2d iteration (operators/layout.py::hilbert_stages —
    validated cell-exact against the textbook algorithm), bucketed
    by the top 6 of 10 curve bits.  Read next to zorder_layout's
    report to see the span win.

    Scale shape: one 1-row bounds aggregate broadcast back, 5 staged
    integer projections (pure codegen, no shuffle), one bucket agg."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias(
            "d"
        ),
    )
    bounds = o.agg(
        F.min("c").alias("c_lo"),
        F.max("c").alias("c_hi"),
        F.min("d").alias("d_lo"),
        F.max("d").alias("d_hi"),
    )
    scaled = o.crossJoin(F.broadcast(bounds)).select(
        "c",
        "d",
        LAY._floor_div(
            (F.col("c") - F.col("c_lo")).cast("bigint") * F.lit(31),
            F.greatest(
                F.col("c_hi") - F.col("c_lo"), F.lit(1)
            ).cast("bigint"),
        ).alias("sx"),
        LAY._floor_div(
            (F.col("d") - F.col("d_lo")).cast("bigint") * F.lit(31),
            F.greatest(
                F.col("d_hi") - F.col("d_lo"), F.lit(1)
            ).cast("bigint"),
        ).alias("sy"),
    )
    h = LAY.hilbert_stages(scaled, "sx", "sy", out="hkey", bits=5)
    return (
        h.select("c", "d", F.shiftright(F.col("hkey"), 4).alias("hbucket"))
        .groupBy("hbucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("c").alias("c_min"),
            F.max("c").alias("c_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
    )


def _pruning_oracle() -> str:
    scale_c = ("((c - c_lo) * 1023) // (CASE WHEN c_hi - c_lo > 1 "
               "THEN c_hi - c_lo ELSE 1 END)")
    scale_d = ("((d - d_lo) * 1023) // (CASE WHEN d_hi - d_lo > 1 "
               "THEN d_hi - d_lo ELSE 1 END)")
    zk = LAY.zorder_key2_sql(f"({scale_c})", f"({scale_d})", bits=10)

    def chain(order_expr: str, label: str) -> str:
        return f"""
    (SELECT '{label}' AS layout,
        CAST(COUNT(*) AS BIGINT) AS n_files,
        CAST(COUNT(*) FILTER (WHERE NOT (d_max < dp_lo OR d_min > dp_hi))
             AS BIGINT) AS read_date_pred,
        CAST(COUNT(*) FILTER (WHERE NOT (c_max < cp_lo OR c_min > cp_hi))
             AS BIGINT) AS read_cust_pred
     FROM (SELECT (rn - 1) // 1000 AS f,
                MIN(c) AS c_min, MAX(c) AS c_max,
                MIN(d) AS d_min, MAX(d) AS d_max,
                MAX(dp_lo) AS dp_lo, MAX(dp_hi) AS dp_hi,
                MAX(cp_lo) AS cp_lo, MAX(cp_hi) AS cp_hi
           FROM (SELECT c, d, dp_lo, dp_hi, cp_lo, cp_hi,
                     ROW_NUMBER() OVER (ORDER BY {order_expr}, okey)
                         AS rn
                 FROM ob) GROUP BY 1))"""

    return f"""
    WITH o AS (SELECT o_orderkey AS okey, o_custkey AS c,
            datediff('day', DATE '1992-01-01', o_orderdate) AS d
        FROM orders),
    b AS (SELECT MIN(c) AS c_lo, MAX(c) AS c_hi,
            MIN(d) AS d_lo, MAX(d) AS d_hi,
            GREATEST(MAX(c) - MIN(c), 1) AS cspan,
            GREATEST(MAX(d) - MIN(d), 1) AS dspan
        FROM o),
    ob AS (SELECT o.*, c_lo, c_hi, d_lo, d_hi,
            d_lo + dspan * 40 // 100 AS dp_lo,
            d_lo + dspan * 42 // 100 AS dp_hi,
            c_lo + cspan * 40 // 100 AS cp_lo,
            c_lo + cspan * 42 // 100 AS cp_hi
        FROM o CROSS JOIN b)
    SELECT * FROM (
        {chain("okey", "natural")}
        UNION ALL {chain("d", "date_sort")}
        UNION ALL {chain(zk, "zorder")}
    ) ORDER BY layout
"""


ORACLE_PRUNING_AUDIT = _pruning_oracle()


# ---------------------------------------------------------------- wave 7d
@query(ORACLE_PRUNING_AUDIT)


def q_pruning_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit — the number the layout
    family exists for: simulate 1000-row files under three write
    orders (natural o_orderkey, single-column date sort, 10-bit
    Z-order) and count how many files a 2%-band predicate on EACH
    dimension must read given per-file min/max stats (exactly what
    parquet row-group pruning sees).  Natural order reads ~everything
    for both; date-sort prunes dates but not customers; Z-order
    prunes BOTH — the report that justifies paying the layout
    shuffle at write time.

    Scale shape: per layout, one distributed prefix-sum rank over a
    unique encoded key (never a single-task window), a file-
    cardinality min/max agg, and a file-cardinality read/skip rollup;
    bounds are one scalar action (the changepoint-bounds idiom)."""
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("c"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias(
            "d"
        ),
    )
    b = o.agg(
        F.min("c").alias("c_lo"),
        F.max("c").alias("c_hi"),
        F.min("d").alias("d_lo"),
        F.max("d").alias("d_hi"),
    ).head()
    c_lo, c_hi, d_lo, d_hi = b["c_lo"], b["c_hi"], b["d_lo"], b["d_hi"]
    cspan, dspan = max(c_hi - c_lo, 1), max(d_hi - d_lo, 1)
    dp_lo, dp_hi = d_lo + dspan * 40 // 100, d_lo + dspan * 42 // 100
    cp_lo, cp_hi = c_lo + cspan * 40 // 100, c_lo + cspan * 42 // 100
    zkey = LAY.scaled_zorder2(
        F.col("c"), F.lit(c_lo), F.lit(c_hi),
        F.col("d"), F.lit(d_lo), F.lit(d_hi),
        bits=10,
    )

    def report(keyed, label):
        ranked = with_global_running_sum(keyed, "k", "one", "rank")
        files = (
            ranked.select(
                F.expr("(rank - 1) div 1000").alias("f"), "c", "d"
            )
            .groupBy("f")
            .agg(
                F.min("c").alias("c_min"),
                F.max("c").alias("c_max"),
                F.min("d").alias("d_min"),
                F.max("d").alias("d_max"),
            )
        )
        return files.agg(
            F.lit(label).alias("layout"),
            F.count(F.lit(1)).alias("n_files"),
            F.count_if(
                ~((F.col("d_max") < dp_lo) | (F.col("d_min") > dp_hi))
            ).alias("read_date_pred"),
            F.count_if(
                ~((F.col("c_max") < cp_lo) | (F.col("c_min") > cp_hi))
            ).alias("read_cust_pred"),
        )

    enc = lambda col: F.concat(  # noqa: E731
        F.lpad(col.cast("string"), 19, "0"),
        F.lpad(F.col("okey").cast("string"), 19, "0"),
    )
    nat = o.select(
        F.lpad(F.col("okey").cast("string"), 19, "0").alias("k"),
        "c",
        "d",
        F.lit(1).cast("bigint").alias("one"),
    )
    dat = o.select(
        enc(F.col("d")).alias("k"), "c", "d",
        F.lit(1).cast("bigint").alias("one"),
    )
    zrd = o.select(
        enc(zkey).alias("k"), "c", "d",
        F.lit(1).cast("bigint").alias("one"),
    )
    return (
        report(nat, "natural")
        .unionByName(report(dat, "date_sort"))
        .unionByName(report(zrd, "zorder"))
        .orderBy("layout")
    )


ORACLE_PPS_SAMPLE = """
    WITH d AS (SELECT doc_id, source,
            CAST(length(text) AS BIGINT) AS w
        FROM documents),
    c AS (SELECT doc_id, source, w,
            CAST(SUM(w) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
            CAST(SUM(w) OVER () AS BIGINT) AS big_w
        FROM d),
    hits AS (SELECT source, w,
            (cum - (big_w // 500) // 2 + big_w) // (big_w // 500)
            - (cum - w - (big_w // 500) // 2 + big_w) // (big_w // 500)
                AS n_hits
        FROM c)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(w) AS BIGINT) AS total_chars,
        CAST(COUNT(CASE WHEN n_hits > 0 THEN 1 END) AS BIGINT)
            AS n_sampled,
        CAST(SUM(w * CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS sampled_chars,
        CAST(SUM(w * CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) * 1000000
            // SUM(w) AS BIGINT) AS mass_rate_ppm
    FROM hits GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------- wave 7v
@query(ORACLE_PPS_SAMPLE)


def q_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling of the
    corpus by character mass: walk the cumulative-size axis with a
    fixed stride W/m from a deterministic mid-stride anchor and take
    every document the pointer lands in — the textbook PPS design
    whose inclusion probability is exactly size*m/W (weighted_sample_
    docs is the A-ES order-sampling flavor; systematic PPS is what
    survey statistics and data-pruning pipelines actually run because
    it needs ONE pass and no priority sort).  Hit counting uses only
    POSITIVE floor divisions (both arguments shifted by +W) so Spark
    `div` and DuckDB `//` agree everywhere; the cumulative axis comes
    from the distributed prefix-sum operator (operators/packing.py) —
    never a single-task window — while the oracle replays it with a
    plain window.

    Scale shape: two-pass prefix sum (range-partitioned stage +
    per-partition offsets), per-row hit arithmetic, one agg to source
    cardinality."""
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )

    m = 500
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("bigint").alias("w")
    )
    cum = with_global_running_sum(docs, "doc_id", "w", "cum")
    tot = docs.agg(F.sum("w").alias("big_w"))
    hits = cum.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        F.expr(
            f"(cum - (big_w div {m}) div 2 + big_w)"
            f" div (big_w div {m})"
            f" - (cum - w - (big_w div {m}) div 2 + big_w)"
            f" div (big_w div {m})"
        ).alias("n_hits"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("total_chars"),
            F.count_if(F.col("n_hits") > 0).alias("n_sampled"),
            F.sum(F.expr("w * CAST(n_hits > 0 AS INT)")).alias(
                "sampled_chars"
            ),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "n_sampled",
            "sampled_chars",
            F.expr(
                "CAST(sampled_chars * 1000000 div total_chars"
                " AS BIGINT)"
            ).alias("mass_rate_ppm"),
        )
        .orderBy("source")
    )
