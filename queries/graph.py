"""Graph queries over ``operators.graph``: PageRank, HITS, triangles,
k-core, label propagation, random walks and link prediction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import graph as G

from ._base import _t, query

def _pagerank_oracle(iterations: int = 3, damping_pct: int = 85) -> str:
    # Every CTE MATERIALIZED: the unrolled-iteration inlining bomb
    # (r3 -> c3 -> r2 -> ... -> e, whole ancestry re-evaluated per
    # reference) filled DuckDB temp at sf10 — same class and fix as
    # the hits/assortativity/triangle oracles.
    mass = "CAST(1000000000000000 AS BIGINT)"
    ctes = [
        "pairs AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS cv, "
        "l.l_suppkey * 2 + 1 AS sv "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)",
        "e AS MATERIALIZED (SELECT cv AS src, sv AS dst FROM pairs "
        "UNION ALL SELECT sv, cv FROM pairs)",
        "v AS MATERIALIZED (SELECT src AS vertex FROM e UNION SELECT dst FROM e)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
        f"params AS MATERIALIZED (SELECT COUNT(*) AS n, {mass} // COUNT(*) AS base, "
        f"({100 - damping_pct} * ({mass} // COUNT(*))) // 100 AS tele "
        f"FROM v)",
        "r0 AS MATERIALIZED (SELECT vertex, base AS rank FROM v CROSS JOIN params)",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT d.src AS cv, p.rank // d.outdeg AS contrib "
            f"FROM {prev} p JOIN deg d ON p.vertex = d.src)"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT e.dst, SUM(contrib) AS inflow "
            f"FROM e JOIN c{i} ON e.src = c{i}.cv GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.vertex, tele + "
            f"(({damping_pct} * COALESCE(s{i}.inflow, 0)) // 100) AS rank "
            f"FROM v LEFT JOIN s{i} ON v.vertex = s{i}.dst "
            f"CROSS JOIN params)"
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CASE WHEN vertex % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
           vertex // 2 AS key, CAST(rank AS BIGINT) AS rank
    FROM {prev} ORDER BY rank DESC, vertex LIMIT 20
"""
    )


ORACLE_PAGERANK = _pagerank_oracle(3, 85)


@query(ORACLE_PAGERANK)
def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the customer<->supplier trade graph
    (operators/graph.py::pagerank_int, 3 iterations, damping 85%).
    Vertices are custkey*2 / suppkey*2+1; edges are the distinct
    trading pairs from orders |x| lineitem, both directions so the
    bipartite graph has no sinks.  Exact BIGINT arithmetic end-to-end
    makes the ranks a pure function of the graph — the DuckDB oracle
    replays all 3 iterations as unrolled CTEs (ORACLE_PAGERANK)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cv"),
            (F.col("l_suppkey") * 2 + 1).alias("sv"),
        )
        .distinct()
    )
    e = pairs.select(F.col("cv").alias("src"), F.col("sv").alias("dst")).union(
        pairs.select(F.col("sv").alias("src"), F.col("cv").alias("dst"))
    )
    from kafka_firehose_nozzle_spark.session import (
        checkpoint_storage_level,
        input_bytes,
    )

    # edge rows are two BIGINTs; the distinct trade-pair count tracks
    # lineitem row count, so ~1.5x lineitem's parquet bytes bounds the
    # materialized edge list (sf100: 13.7 GB parquet -> ~19 GB edges)
    level = checkpoint_storage_level(
        spark,
        input_bytes(spark, f"{sf_dir}/lineitem.parquet"),
        expansion=1.5,
    )
    ranks = G.pagerank_int(
        e, iterations=3, damping_pct=85, edge_storage_level=level
    )
    return (
        ranks.orderBy(F.desc("rank"), F.col("vertex"))
        .limit(20)
        .select(
            F.when(F.col("vertex") % 2 == 0, F.lit("cust"))
            .otherwise(F.lit("supp"))
            .alias("node_type"),
            F.expr("vertex div 2").alias("key"),
            F.col("rank"),
        )
    )


ORACLE_TRIANGLES = """
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS g, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS MATERIALIZED (
        SELECT a.s AS a, b.s AS b
        FROM pairs a JOIN pairs b ON a.g = b.g AND a.s < b.s
        GROUP BY 1, 2 HAVING COUNT(*) >= 3),
    deg AS MATERIALIZED (
        SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b FROM edges) t
        GROUP BY v),
    o AS MATERIALIZED (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                    THEN e.a ELSE e.b END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                    THEN e.b ELSE e.a END AS w
        FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM o e1 JOIN o e2 ON e1.w = e2.u
                 JOIN o e3 ON e3.u = e1.u AND e3.w = e2.w)
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges, n_triangles FROM tri
"""


@query(ORACLE_TRIANGLES)
def q_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the supplier co-purchase graph (suppliers
    linked when >= 3 customers buy from both): co-occurrence edge build
    sharded by customer, then degree-ordered wedge counting
    (operators/graph.py::triangle_count — out-degree bounded by
    O(sqrt(E)) so hub suppliers can't explode the wedge join).  Emits
    [n_edges, n_triangles]."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    edges = G.undirected_edges_min_support(
        pairs, "cust", "supp", min_support=3
    ).localCheckpoint()
    tri = G.triangle_count(edges)
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return ne.crossJoin(tri)


ORACLE_ASSORTATIVITY = f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS g, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS MATERIALIZED (
        SELECT a.s AS a, b.s AS b
        FROM pairs a JOIN pairs b ON a.g = b.g AND a.s < b.s
        GROUP BY 1, 2 HAVING COUNT(*) >= 3),
    sym AS MATERIALIZED (
        SELECT a AS u, b AS v FROM edges
        UNION ALL SELECT b, a FROM edges),
    deg AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym
        GROUP BY u),
    xy AS (SELECT du.d AS dx, dv.d AS dy
        FROM sym JOIN deg du ON sym.u = du.u
                 JOIN deg dv ON sym.v = dv.u),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(dx AS HUGEINT)) AS sx,
            SUM(CAST(dy AS HUGEINT)) AS sy,
            SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
            SUM(CAST(dy AS HUGEINT) * dy) AS syy,
            SUM(CAST(dx AS HUGEINT) * dy) AS sxy
        FROM xy),
    br AS (SELECT n AS n_endpoints, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy
        FROM m)
    SELECT n_endpoints,
        {DET.det_round_sql(
            '(dn * dsxy - dsx * dsy) / NULLIF('
            'sqrt((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)),'
            ' 0.0)', 6
        )} AS assortativity
    FROM br
"""


@query(ORACLE_ASSORTATIVITY)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier co-purchase graph (the
    supplier_triangles edge set, min support 3): Pearson correlation
    of endpoint degrees over both edge orientations — positive =
    hub-to-hub trading (failure cascades concentrate), negative =
    hub-to-periphery.  Exact integer degree moments in DECIMAL(38,0)/
    HUGEINT, VARCHAR-bridged closed form, det_round(6) (the corr
    idiom).

    Scale shape: the customer-sharded edge build is the corpus stage;
    degrees aggregate at vertex cardinality; moments at single-row."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        .distinct()
    )
    # localCheckpoint: the customer-sharded edge build feeds four
    # references (two sym orientations, each consumed by degrees AND
    # endpoint joins); without pinning it can re-execute per consumer
    # (the supplier_triangles precedent — same edge set, same trade)
    edges = G.undirected_edges_min_support(
        pairs, "cust", "supp", min_support=3
    ).localCheckpoint()
    sym = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    dec = "DECIMAL(38,0)"
    # sf10 probe lesson (143 s, volume-linear but join-heavy): the old
    # plan attached BOTH endpoint degrees to every sym row (two
    # edge-cardinality joins + an edge-cardinality 6-sum agg). Over the
    # symmetric orientation set, endpoint x takes value d(u) exactly
    # d(u) times, so n = Σd, sx = sy = Σd², sxx = syy = Σd³ — pure
    # VERTEX-cardinality math off the degree table. Only the cross
    # moment is genuinely pairwise: Σ d(u)·d(v) = Σ_u d(u)·Σ_{v∈N(u)}
    # d(v) — ONE edge-cardinality join, a vertex agg, a vertex join.
    # Same exact integers (oracle unchanged), half the heavy stages.
    dm = deg.agg(
        F.expr(f"SUM(CAST(d AS {dec}))").alias("n_dec"),
        F.expr(f"SUM(CAST(d AS {dec}) * d)").alias("sx"),
        F.expr(f"SUM(CAST(d AS {dec}) * d * d)").alias("sxx"),
    )
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    nbr = (
        sym.join(dv, "v")
        .groupBy("u")
        # nbr_sum <= max_d * max_d (schema-bounded, ~1e6 worst case
        # here) — comfortably BIGINT
        .agg(F.sum("dy").alias("nbr_sum"))
    )
    m_sxy = nbr.join(deg, "u").agg(
        F.expr(f"SUM(CAST(d AS {dec}) * nbr_sum)").alias("sxy")
    )
    m = dm.crossJoin(F.broadcast(m_sxy))  # two 1-row frames
    br = m.select(
        F.expr("CAST(COALESCE(n_dec, 0) AS BIGINT)").alias("n_endpoints"),
        F.expr("CAST(COALESCE(n_dec, 0) AS DOUBLE)").alias("dn"),
        F.expr("CAST(CAST(sx AS STRING) AS DOUBLE)").alias("dsx"),
        F.expr("CAST(CAST(sx AS STRING) AS DOUBLE)").alias("dsy"),
        F.expr("CAST(CAST(sxx AS STRING) AS DOUBLE)").alias("dsxx"),
        F.expr("CAST(CAST(sxx AS STRING) AS DOUBLE)").alias("dsyy"),
        F.expr("CAST(CAST(sxy AS STRING) AS DOUBLE)").alias("dsxy"),
    )
    num = F.col("dn") * F.col("dsxy") - F.col("dsx") * F.col("dsy")
    den = F.sqrt(
        (F.col("dn") * F.col("dsxx") - F.col("dsx") * F.col("dsx"))
        * (F.col("dn") * F.col("dsyy") - F.col("dsy") * F.col("dsy"))
    )
    return br.select(
        "n_endpoints",
        DET.det_round(num / F.nullif(den, F.lit(0.0)), 6).alias(
            "assortativity"
        ),
    )


_KCORE_K = 3

_KCORE_ROUNDS = 8


def _kcore_oracle_rounds(k: int, rounds: int) -> str:
    # every e{i} is MATERIALIZED: each round references its predecessor
    # three times (degree agg + two semi filters), so default CTE
    # inlining would expand the chain 3^rounds-fold — enough repeated
    # parquet scans to exhaust the fd limit
    ctes = []
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""d{i} AS MATERIALIZED (
        SELECT u, COUNT(*) AS d FROM e{p} GROUP BY u),
    k{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE d >= {k}),
    e{i} AS MATERIALIZED (SELECT e{p}.u, e{p}.v FROM e{p}
        JOIN k{i} a ON e{p}.u = a.u
        JOIN k{i} b ON e{p}.v = b.u)"""
        )
    return ",\n    ".join(ctes)


ORACLE_KCORE = f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS s FROM lineitem),
    edges AS MATERIALIZED (SELECT a.s AS a, b.s AS b
        FROM pairs a JOIN pairs b ON a.g = b.g AND a.s < b.s
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b, a FROM edges),
    {_kcore_oracle_rounds(_KCORE_K, _KCORE_ROUNDS)}
    SELECT u AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{_KCORE_ROUNDS} GROUP BY u ORDER BY part
"""


@query(ORACLE_KCORE)
def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=3) of the part co-order graph (parts
    linked when >= 2 orders contain both — the market-basket graph,
    which unlike the near-complete supplier co-purchase graph is
    genuinely sparse: avg degree ~4 at sf0.01): iteratively peel
    vertices with degree < k until fixpoint — the dense-subgraph
    backbone extraction that degree filtering alone can't do
    (removing a low-degree vertex can demote its neighbors).  Fixed
    {rounds} peel rounds with early exit at the fixpoint; a fixpoint
    test asserts convergence within the budget
    (tests/test_operators.py), and extra rounds are no-ops so the
    oracle (same unrolled rounds) matches regardless.

    Scale shape: per round, one vertex-cardinality agg and two equi
    joins on shrinking edge sets; localCheckpoint truncates the
    iteration lineage (the star-contraction precedent) — never a
    driver collect of graph data."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.undirected_edges_min_support(
        li.distinct(), "l_orderkey", "l_partkey", min_support=2
    )
    core = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        .localCheckpoint()
    )
    # early exit at the fixpoint: once a round removes no edges, every
    # later round is a no-op — identical results to the oracle's full
    # unroll (its extra rounds are no-ops too), at a fraction of the
    # materializations.  The count rides the eager localCheckpoint each
    # round already pays.
    n_edges = core.count()
    for _ in range(_KCORE_ROUNDS):
        deg = core.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= _KCORE_K).select("u")
        core = (
            core.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint()
        )
        n_next = core.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    return (
        core.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("u").alias("part"), "core_degree")
        .orderBy("part")
    )


q_kcore_parts.__doc__ = q_kcore_parts.__doc__.format(
    rounds=_KCORE_ROUNDS
)

_LPA_ROUNDS = 4


def _lpa_oracle_rounds(rounds: int) -> str:
    ctes = []
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""nl{i} AS MATERIALIZED (
        SELECT sym.u, l.lbl AS nlbl, CAST(COUNT(*) AS BIGINT) AS c
        FROM sym JOIN lbl{p} l ON sym.v = l.u
        GROUP BY sym.u, l.lbl),
    lbl{i} AS MATERIALIZED (
        SELECT u, nlbl AS lbl FROM (
            SELECT u, nlbl, ROW_NUMBER() OVER (
                PARTITION BY u ORDER BY c DESC, nlbl) AS rn
            FROM nl{i})
        WHERE rn = 1)"""
        )
    return ",\n    ".join(ctes)


ORACLE_LABEL_PROP = f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS s FROM lineitem),
    edges AS MATERIALIZED (SELECT a.s AS a, b.s AS b
        FROM pairs a JOIN pairs b ON a.g = b.g AND a.s < b.s
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    sym AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b, a FROM edges),
    lbl0 AS MATERIALIZED (
        SELECT DISTINCT u, u AS lbl FROM sym),
    {_lpa_oracle_rounds(_LPA_ROUNDS)}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lbl{_LPA_ROUNDS} GROUP BY lbl
    ORDER BY n_members DESC, lbl LIMIT 20
"""


@query(ORACLE_LABEL_PROP)
def q_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the part co-order graph
    (support >= 2, the kcore_parts substrate): {rounds} synchronous
    rounds of mode-of-neighbor-labels with deterministic tie-break
    (highest count, then smallest label) starting from
    label = own id; isolated semantics: a vertex keeps its label if
    it has no neighbors (every vertex here has >= 1 edge by
    construction).  Output: the 20 largest communities.  Fixed round
    count on BOTH engines — no convergence test needed for parity
    (LPA can oscillate; the unrolled oracle replays the same rounds).

    Scale shape: per round, an edge-labels equi join + a
    (vertex, label) count agg + a vertex-partitioned argmax window;
    localCheckpoint truncates lineage per round."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = G.undirected_edges_min_support(
        li.distinct(), "l_orderkey", "l_partkey", min_support=2
    )
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        .localCheckpoint()
    )
    labels = sym.select("u").distinct().select(
        "u", F.col("u").alias("lbl")
    )
    wnd = Window.partitionBy("u").orderBy(
        F.desc("c"), F.col("nlbl")
    )
    for _ in range(_LPA_ROUNDS):
        nl = (
            sym.join(
                labels.select(
                    F.col("u").alias("v"), F.col("lbl").alias("nlbl")
                ),
                "v",
            )
            .groupBy("u", "nlbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            nl.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1)
            .select("u", F.col("nlbl").alias("lbl"))
            .localCheckpoint()
        )
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "lbl")
        .limit(20)
        .select(F.col("lbl").alias("community"), "n_members")
    )


q_label_prop_communities.__doc__ = q_label_prop_communities.__doc__.format(
    rounds=_LPA_ROUNDS
)


ORACLE_ITEM_COSINE = """
    WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g,
            l_partkey AS p
        FROM lineitem),
    deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM pp GROUP BY p),
    edges AS (SELECT a.p AS a, b.p AS b,
            CAST(COUNT(*) AS BIGINT) AS n_co
        FROM pp a JOIN pp b ON a.g = b.g AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT e.a AS part_a, e.b AS part_b, e.n_co,
        CAST(CAST(e.n_co AS HUGEINT) * e.n_co * 1000000000000
            // (CAST(da.d AS HUGEINT) * db.d) AS BIGINT) AS key_p12,
        CAST(e.n_co AS DOUBLE)
            / sqrt(CAST(da.d * db.d AS DOUBLE)) AS cosine
    FROM edges e JOIN deg da ON e.a = da.p
                 JOIN deg db ON e.b = db.p
    ORDER BY key_p12 DESC, part_a, part_b LIMIT 20
"""


@query(ORACLE_ITEM_COSINE)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the part co-order
    bipartite projection: cosine similarity n_uv / sqrt(d_u * d_v)
    (co-order count normalized by order-degree) — the normalization
    that separates 'genuinely bought together' from 'both popular'.
    The double is EXACT-IEEE deterministic (int->double exact below
    2^53, sqrt and divide correctly rounded — no det_round needed);
    ranking uses the exact integer key n^2 * 1e12 // (d_u * d_v) so
    ties cannot reorder across engines.  Top 20.

    Scale shape: same bucketed co-order self-join as kcore_parts
    (equi on order, pairs bounded per order), degree join at item
    cardinality, TakeOrdered finish."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pp = li.distinct()
    deg = pp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("d"))
    edges = G.undirected_edges_min_support(
        pp, "l_orderkey", "l_partkey", min_support=2, keep_support=True
    ).withColumnRenamed("support", "n_co")
    da = deg.select(F.col("l_partkey").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("l_partkey").alias("b"), F.col("d").alias("db"))
    j = edges.join(da, "a").join(db, "b")
    return (
        j.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("n_co"),
            F.expr(
                "CAST(CAST(n_co AS DECIMAL(38,0)) * n_co * 1000000000000"
                " div (CAST(da AS DECIMAL(38,0)) * db) AS BIGINT)"
            ).alias("key_p12"),
            F.expr(
                "CAST(n_co AS DOUBLE)"
                " / sqrt(CAST(da * db AS DOUBLE))"
            ).alias("cosine"),
        )
        .orderBy(F.desc("key_p12"), "part_a", "part_b")
        .limit(20)
    )


def _hash_walk_oracle() -> str:
    steps = []
    prev = "w0"
    for k in range(1, 4):
        hidx = (
            f"('0x' || substr(md5(CAST(cur AS VARCHAR) || '_' || '{k}'),"
            f" 1, 10))::BIGINT % deg"
        )
        steps.append(
            f"w{k} AS (SELECT v0, r.dst AS cur"
            f" FROM (SELECT v0, {prev}.cur, {hidx} AS idx"
            f"       FROM {prev} JOIN deg ON deg.src = {prev}.cur) s"
            f" JOIN ranked r ON r.src = s.cur AND r.idx = s.idx)"
        )
        prev = f"w{k}"
    # ranked is probed by all 3 walk steps and deg by all 4 — inlined,
    # each consumer re-runs the 60M-row co-order self-join, and the
    # concurrent instances spilled /tmp to death at sf10 (the same
    # CTE-inlining class as pagerank/BPE/Bradley-Terry).  MATERIALIZED
    # pins the edge list once (|adj| rows of 3 ints).
    return f"""
    WITH pp AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS p
        FROM lineitem),
    und AS (SELECT a.p AS a, b.p AS b
        FROM pp a JOIN pp b ON a.g = b.g AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    adj AS (SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und),
    ranked AS MATERIALIZED (SELECT src, dst,
            ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1
                AS idx
        FROM adj),
    deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        FROM ranked GROUP BY 1),
    w0 AS (SELECT src AS v0, src AS cur FROM deg),
    {",".join(steps)}
    SELECT cur AS endpoint, CAST(COUNT(*) AS BIGINT) AS visits
    FROM {prev} GROUP BY 1 ORDER BY visits DESC, endpoint LIMIT 20
"""


ORACLE_HASH_WALK = _hash_walk_oracle()


# ---------------------------------------------------------------- wave 7h
@query(ORACLE_HASH_WALK)


def q_hash_walk_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random walks on the part co-order graph —
    the DeepWalk/node2vec precursor made engine-replayable: from every
    node, walk 3 steps where step k leaves node v through neighbor
    index md5(v '_' k) mod degree(v) (the md5-int idiom; a real RNG
    would be unverifiable across engines, and hash-walks have the
    same mixing behavior for embedding/sampling purposes).  Top 20
    most-visited endpoints with visit counts — high-visit nodes are
    the graph's hubs as a WALK measure, which weights connectivity
    differently than raw degree (kcore_parts) or triangles.

    Scale shape: adjacency ranked once per direction (window
    partitioned by source node at edge cardinality); each step is
    one broadcast-degree lookup + one equi-join on (node, index);
    TakeOrdered(20) finish."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pp = li.distinct()
    und = G.undirected_edges_min_support(
        pp, "l_orderkey", "l_partkey", min_support=2
    )
    adj = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    wn = Window.partitionBy("src").orderBy("dst")
    ranked = adj.select(
        "src", "dst", (F.row_number().over(wn) - 1).alias("idx")
    )
    deg = ranked.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    walk = deg.select(F.col("src").alias("v0"), F.col("src").alias("cur"))
    for k in range(1, 4):
        hidx = F.expr(
            f"pmod(conv(substring(md5(concat(CAST(cur AS STRING),"
            f" '_', '{k}')), 1, 10), 16, 10), deg)"
        ).cast("bigint")
        walk = (
            walk.join(deg.withColumnRenamed("src", "cur"), "cur")
            .select("v0", "cur", hidx.alias("idx"))
            .join(
                ranked.select(
                    F.col("src").alias("cur"), "idx", "dst"
                ),
                ["cur", "idx"],
            )
            .select("v0", F.col("dst").alias("cur"))
        )
    return (
        walk.groupBy(F.col("cur").alias("endpoint"))
        .agg(F.count(F.lit(1)).alias("visits"))
        .orderBy(F.desc("visits"), "endpoint")
        .limit(20)
    )


def _hits_oracle() -> str:
    # unrolled 2-iteration HITS, ppm-of-max normalization each half-step.
    # Every CTE is MATERIALIZED: inlined, each step re-evaluates its
    # whole ancestry (h2 -> a2 -> a1 -> h0 -> e), so the 6M-row edge
    # DISTINCT ran five-plus times concurrently and filled 77 G of
    # DuckDB temp at sf1 (same class as the triangle-oracle post-mortem).
    steps = []
    prev_h = "h0"
    for i in (1, 2):
        steps.append(
            f"a{i}r AS MATERIALIZED (SELECT a, SUM(CAST(hs AS HUGEINT)) AS raw"
            f" FROM e JOIN {prev_h} USING (h) GROUP BY a)"
        )
        steps.append(
            f"a{i} AS MATERIALIZED (SELECT a, CAST(raw * 1000000"
            f" // (SELECT MAX(raw) FROM a{i}r) AS BIGINT) AS sc"
            f" FROM a{i}r)"
        )
        steps.append(
            f"h{i}r AS MATERIALIZED (SELECT h, SUM(CAST(sc AS HUGEINT)) AS raw"
            f" FROM e JOIN a{i} USING (a) GROUP BY h)"
        )
        steps.append(
            f"h{i} AS MATERIALIZED (SELECT h, CAST(raw * 1000000"
            f" // (SELECT MAX(raw) FROM h{i}r) AS BIGINT) AS hs"
            f" FROM h{i}r)"
        )
        prev_h = f"h{i}"
    joined = ",\n    ".join(steps)
    return f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS h, l_partkey AS a
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    h0 AS MATERIALIZED (
        SELECT h, CAST(1000000 AS BIGINT) AS hs
        FROM (SELECT DISTINCT h FROM e)),
    {joined},
    ta AS (SELECT 'authority' AS role, CAST(a AS BIGINT) AS node_id,
            sc AS score_ppm
        FROM a2 ORDER BY sc DESC, a LIMIT 10),
    th AS (SELECT 'hub' AS role, CAST(h AS BIGINT) AS node_id,
            hs AS score_ppm
        FROM h2 ORDER BY hs DESC, h LIMIT 10),
    u AS (SELECT * FROM ta UNION ALL SELECT * FROM th)
    SELECT role,
        CAST(ROW_NUMBER() OVER (PARTITION BY role
            ORDER BY score_ppm DESC, node_id) AS BIGINT) AS rank,
        node_id, score_ppm
    FROM u ORDER BY role, rank
"""


ORACLE_HITS = _hits_oracle()


# ---------------------------------------------------------------- wave 7n
@query(ORACLE_HITS)


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the customer->part purchase bipartite graph: hubs are
    customers whose baskets concentrate on authoritative parts,
    authorities are parts bought by strong hubs — the mutually-
    recursive centrality pagerank doesn't give you (PageRank flows
    along edges; HITS separates the two roles, which is what a
    bipartite purchase graph actually has).  2 exact-integer
    iterations via operators/graph.py::hits_int (ppm-of-max
    normalization — rank-preserving, engine-exact); top 10 per role.

    Scale shape: per half-iteration one vertex-cardinality join + one
    partial-combined SUM + a 1-row max broadcast; TakeOrdered(10)
    per role."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    hubs, auths = G.hits_int(e, iterations=2)
    top_h = (
        hubs.select(
            F.lit("hub").alias("role"),
            F.col("h").cast("bigint").alias("node_id"),
            F.col("hs").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), "node_id")
        .limit(10)
    )
    top_a = (
        auths.select(
            F.lit("authority").alias("role"),
            F.col("a").cast("bigint").alias("node_id"),
            F.col("sc").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), "node_id")
        .limit(10)
    )
    out = top_a.unionByName(top_h)
    from pyspark.sql import Window

    w = Window.partitionBy("role").orderBy(
        F.desc("score_ppm"), "node_id"
    )
    return out.select(
        "role",
        F.row_number().over(w).cast("bigint").alias("rank"),
        "node_id",
        "score_ppm",
    ).orderBy("role", "rank")


ORACLE_RA_LINKS = """
    WITH pp AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS p
        FROM lineitem),
    und AS MATERIALIZED (SELECT a.p AS a, b.p AS b
        FROM pp a JOIN pp b ON a.g = b.g AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    adj AS (SELECT a AS z, b AS x FROM und
        UNION ALL SELECT b, a FROM und),
    deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg
        FROM adj GROUP BY 1),
    w AS (SELECT z, 1000000000 // deg AS w_nano FROM deg),
    wedges AS (SELECT l.x AS px, r.x AS py,
            CAST(SUM(w_nano) AS BIGINT) AS ra_nano,
            CAST(COUNT(*) AS BIGINT) AS n_common
        FROM adj l JOIN adj r ON l.z = r.z AND l.x < r.x
        JOIN w ON w.z = l.z
        GROUP BY 1, 2),
    cand AS (SELECT * FROM wedges
        WHERE NOT EXISTS (SELECT 1 FROM und
            WHERE und.a = wedges.px AND und.b = wedges.py))
    SELECT px AS part_a, py AS part_b, ra_nano, n_common
    FROM cand ORDER BY ra_nano DESC, part_a, part_b LIMIT 20
"""


@query(ORACLE_RA_LINKS)
def q_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-order graph by the resource-
    allocation index: for a non-adjacent pair (x, y), RA = sum over
    common neighbors z of 1/deg(z) — the published Zhou-Lu-Zhang
    refinement of Adamic-Adar that penalizes promiscuous middlemen
    harder.  Engine-exact by quantizing EACH term before the sum
    (w(z) = 1e9 div deg(z), so the fold is an integer sum — a float
    1/deg sum would hash differently per partitioning); existing
    edges are removed with an anti-join.  Top 20 predicted links —
    the candidate list a recommender would re-rank.

    Scale shape: the wedge join is adjacency x adjacency on the
    middle vertex — sum of deg(z)^2 rows, kept tractable by the
    min_support=2 edge pruning (same bound item_item_cosine and
    hash_walk_visits live with); degree weights ride a vertex-
    cardinality join; TakeOrdered(20)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pp = li.distinct()
    und = G.undirected_edges_min_support(
        pp, "l_orderkey", "l_partkey", min_support=2
    )
    adj = und.select(
        F.col("a").alias("z"), F.col("b").alias("x")
    ).unionByName(und.select(F.col("b").alias("z"), F.col("a").alias("x")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    w = deg.select("z", F.expr("1000000000 div deg").alias("w_nano"))
    left = adj.select("z", F.col("x").alias("px"))
    right = adj.select("z", F.col("x").alias("py"))
    wedges = (
        left.join(right, "z")
        .filter(F.col("px") < F.col("py"))
        .join(w, "z")
        .groupBy("px", "py")
        .agg(
            F.sum("w_nano").alias("ra_nano"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    cand = wedges.join(
        und.select(F.col("a").alias("px"), F.col("b").alias("py")),
        ["px", "py"],
        "left_anti",
    )
    return (
        cand.select(
            F.col("px").alias("part_a"),
            F.col("py").alias("part_b"),
            "ra_nano",
            "n_common",
        )
        .orderBy(F.desc("ra_nano"), "part_a", "part_b")
        .limit(20)
    )
