"""Vector queries over ``operators.similarity`` and ``operators.retrieval``:
exact and approximate (IVF, PQ, LSH) cosine top-k, kNN graphs, MMR,
PCA, embedding outliers and record-linkage name matching."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import similarity as S

from ._base import _parquet_nrows, _pure_plan, _t, query
from .text import _BM25_CTES, q_bm25_scores

ORACLE_ANN = """
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id <> 0),
    s AS (SELECT vec_id,
        list_sum(list_transform(range(len(v)), i -> v[i + 1] * qv[i + 1])) /
        (sqrt(list_sum(list_transform(v, x -> x * x))) *
         sqrt(list_sum(list_transform(qv, x -> x * x)))) AS sim
        FROM e CROSS JOIN q)
    SELECT vec_id, (FLOOR((sim) * 10000.0 + 0.5) / 10000.0) AS cos_sim
    FROM s ORDER BY sim DESC, vec_id LIMIT 10
"""


@query(ORACLE_ANN)
@_pure_plan
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, S.query_vector(emb, 0), k=10)


_EMB_DOT = (
    "list_sum(list_transform(range(len({a})), i -> {a}[i + 1] * {b}[i + 1]))"
)

# replays embedding_lsh_dup_pairs: k = max(4, ceil(log2(n/100))) sign bits
# per band over planes = the first 2k corpus vectors; candidates are the
# OR of both bands' intra-bucket pairs. The CTE block (through `p`, all
# scored candidate pairs) is shared with the kNN-graph oracle.
_EMB_LSH_PAIRS_CTE = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    params AS (SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / 100.0)) AS INT))
                   AS k FROM e),
    pl AS (SELECT p.vec_id // params.k AS band, p.vec_id % params.k AS j, p.v
           FROM e p, params WHERE p.vec_id < 2 * params.k),
    b AS (SELECT e.vec_id, pl.band,
                 SUM(CASE WHEN {_EMB_DOT.format(a='e.v', b='pl.v')} >= 0
                     THEN CAST(POWER(2, pl.j) AS BIGINT) ELSE 0 END) AS bucket
          FROM e CROSS JOIN pl GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
             FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket
                              AND x.vec_id < y.vec_id),
    s AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    p AS (SELECT c.id_a, c.id_b,
                 (FLOOR(({_EMB_DOT.format(a='a.v', b='bb.v')}
                       / (a.nrm * bb.nrm)) * 1000000.0 + 0.5)
                  / 1000000.0) AS cos_sim
          FROM cand c JOIN s a ON c.id_a = a.vec_id
                      JOIN s bb ON c.id_b = bb.vec_id)
"""


# oracle fragment: cosine over double lists with identical fold order
def _sim_sql(a: str, b: str) -> str:
    return (
        f"(list_sum(list_transform(range(len({a})), i -> {a}[i + 1] * {b}[i + 1])) / "
        f"(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
        f"sqrt(list_sum(list_transform({b}, x -> x * x)))))"
    )


ORACLE_IVF = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
               FROM embeddings),
    c AS (SELECT vec_id AS cell_id, v AS centroid FROM e WHERE vec_id < 8),
    assign AS (SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_sim_sql('e.v', 'c.centroid')} DESC, c.cell_id) AS rn
        FROM e CROSS JOIN c) ranked WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probes AS (SELECT cell_id FROM c CROSS JOIN q
               ORDER BY {_sim_sql('centroid', 'qv')} DESC, cell_id LIMIT 2),
    cand AS (SELECT e.vec_id, e.v FROM e
             JOIN assign ON e.vec_id = assign.vec_id
             WHERE assign.cell_id IN (SELECT cell_id FROM probes)
               AND e.vec_id <> 0)
    SELECT vec_id, (FLOOR(({_sim_sql('v', 'qv')}) * 10000.0 + 0.5)
                    / 10000.0) AS cos_sim
    FROM cand CROSS JOIN q
    ORDER BY {_sim_sql('v', 'qv')} DESC, vec_id LIMIT 10
"""


@query(ORACLE_IVF)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign to 8 medoid cells, probe the 2 nearest."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = S.medoid_centroids(emb, 8)
    assigned = S.ivf_assign(emb, cents)
    return S.ivf_topk(assigned, cents, S.query_vector(emb, 0), k=10, nprobe=2)


def _ivf_trained_oracle(num_cells: int = 10, max_iter: int = 4) -> str:
    """Unrolled-CTE DuckDB replay of kmeans_centroids(init='mod') + IVF
    search. Lloyd's with a FIXED iteration count needs no recursion: each
    iteration is (normalize -> assign -> decimal-avg update -> empty-cell
    fallback), chained as four CTE blocks. Bit-equality with Spark holds
    because every float-order-sensitive reduction is either an exact
    decimal sum (component averages) or the same left-fold dot product
    both engines use (list_sum / F.aggregate); convergence early-exit on
    the Spark side is a fixed point, so extra unrolled iterations are
    no-ops."""

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(len({a})), "
            f"i -> {a}[i + 1] * {b}[i + 1]))"
        )

    # decimal sum -> VARCHAR -> DOUBLE: mirrors _component_avg — DuckDB's
    # int128->double cast double-rounds above 2^53, string parsing is
    # correctly rounded in both engines.
    davg = (
        "CAST(CAST(SUM(CAST(val AS DECIMAL(20,12))) AS VARCHAR(64))"
        " AS DOUBLE) / COUNT(*)"
    )
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, y -> CAST(y AS "
        "DOUBLE)) AS v FROM embeddings)",
        "ex AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS "
        "val FROM e)",
        f"c0 AS (SELECT cell_id, list(c ORDER BY pos) AS centroid FROM ("
        f"SELECT vec_id % {num_cells} AS cell_id, pos, {davg} AS c "
        f"FROM ex GROUP BY 1, 2) g GROUP BY cell_id)",
    ]
    prev = "c0"
    for i in range(1, max_iter + 1):
        norm = "sqrt(list_sum(list_transform(centroid, y -> y * y)))"
        ctes.append(
            f"u{i} AS (SELECT cell_id, list_transform(centroid, x -> x / "
            f"(CASE WHEN {norm} = 0 THEN 1.0 ELSE {norm} END)) AS uc "
            f"FROM {prev})"
        )
        ctes.append(
            f"a{i} AS (SELECT vec_id, cell_id FROM ("
            f"SELECT e.vec_id, u.cell_id, ROW_NUMBER() OVER ("
            f"PARTITION BY e.vec_id ORDER BY {dot('e.v', 'u.uc')} DESC, "
            f"u.cell_id) AS rn FROM e CROSS JOIN u{i} u) r WHERE rn = 1)"
        )
        ctes.append(
            f"n{i} AS (SELECT a.cell_id, ex.pos, {davg} AS c "
            f"FROM ex JOIN a{i} a USING (vec_id) GROUP BY 1, 2)"
        )
        ctes.append(
            f"c{i} AS (SELECT p.cell_id, COALESCE(g.centroid, p.centroid) "
            f"AS centroid FROM {prev} p LEFT JOIN ("
            f"SELECT cell_id, list(c ORDER BY pos) AS centroid FROM n{i} "
            f"GROUP BY cell_id) g USING (cell_id))"
        )
        prev = f"c{i}"
    ctes += [
        f"assign AS (SELECT vec_id, cell_id FROM ("
        f"SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER ("
        f"PARTITION BY e.vec_id ORDER BY "
        f"{_sim_sql('e.v', 'c.centroid')} DESC, c.cell_id) AS rn "
        f"FROM e CROSS JOIN {prev} c) r WHERE rn = 1)",
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)",
        f"probes AS (SELECT cell_id FROM {prev} CROSS JOIN q "
        f"ORDER BY {_sim_sql('centroid', 'qv')} DESC, cell_id LIMIT 2)",
        "cand AS (SELECT e.vec_id, e.v FROM e "
        "JOIN assign ON e.vec_id = assign.vec_id "
        "WHERE assign.cell_id IN (SELECT cell_id FROM probes) "
        "AND e.vec_id <> 0)",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT vec_id, (FLOOR(({_sim_sql('v', 'qv')}) * 10000.0 + 0.5)
                    / 10000.0) AS cos_sim
    FROM cand CROSS JOIN q
    ORDER BY {_sim_sql('v', 'qv')} DESC, vec_id LIMIT 10
"""
    )


ORACLE_IVF_TRAINED = _ivf_trained_oracle(10, 4)


@query(ORACLE_IVF_TRAINED)
def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN: spherical Lloyd's k-means centroids (10 cells,
    zero-shuffle literal-centroid assignment + one partial-agg shuffle
    per iteration), probe the 2 nearest cells.

    Oracle-checked since r3: mod-C seeding + exact-decimal component
    averages make training bit-reproducible in plain SQL, so the DuckDB
    oracle replays all 4 Lloyd's iterations as unrolled CTEs
    (ORACLE_IVF_TRAINED). Recall vs brute force is separately bounded in
    tests/test_operators.py::test_kmeans_centroids_train_and_recall."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = S.kmeans_centroids(emb, 10, max_iter=4, init="mod")
    assigned = S.ivf_assign(emb, cents)
    return S.ivf_topk(assigned, cents, S.query_vector(emb, 0), k=10, nprobe=2)


def _pq_oracle(num_sub: int = 4, num_codes: int = 16, dim: int = 64) -> str:
    """DuckDB replay of pq_codebook + pq_encode + pq_topk.  Same
    determinism ledger as the IVF-trained oracle: component averages are
    decimal sums through VARCHAR, every distance is the identical
    (x-y)*(x-y) left fold, argmin ties break to the lowest code, and the
    final 4-term ADC sum is an ordered list_sum."""
    subdim = dim // num_sub

    def sqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(len({a})), i -> "
            f"({a}[i + 1] - {b}[i + 1]) * ({a}[i + 1] - {b}[i + 1])))"
        )

    davg = (
        "CAST(CAST(SUM(CAST(val AS DECIMAL(20,12))) AS VARCHAR(64))"
        " AS DOUBLE) / COUNT(*)"
    )
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
               FROM embeddings),
    comp AS (SELECT vec_id % {num_codes} AS code,
                    CAST(p // {subdim} AS INT) AS sub, p % {subdim} AS pos, val
             FROM (SELECT vec_id, unnest(range(len(v))) AS p,
                          unnest(v) AS val FROM e)),
    cb AS (SELECT sub, code, list(c ORDER BY pos) AS centroid FROM (
               SELECT sub, code, pos, {davg} AS c
               FROM comp GROUP BY sub, code, pos) g
           GROUP BY sub, code),
    sub AS (SELECT e.vec_id, ms.s,
                   list_slice(e.v, ms.s * {subdim} + 1,
                              ms.s * {subdim} + {subdim}) AS sv
            FROM e CROSS JOIN (SELECT unnest(range({num_sub})) AS s) ms),
    codes AS (SELECT vec_id, s, code FROM (
                  SELECT sub.vec_id, sub.s, cb.code,
                         ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
                             ORDER BY {sqd('sub.sv', 'cb.centroid')} ASC,
                                      cb.code) AS rn
                  FROM sub JOIN cb ON sub.s = cb.sub) r WHERE rn = 1),
    lut AS (SELECT cb.sub AS s, cb.code,
                   {sqd('q.sv', 'cb.centroid')} AS d
            FROM cb JOIN (SELECT * FROM sub WHERE vec_id = 0) q
              ON cb.sub = q.s),
    score AS (SELECT c.vec_id, list_sum(list(lut.d ORDER BY c.s)) AS dist
              FROM codes c JOIN lut ON c.s = lut.s AND c.code = lut.code
              GROUP BY c.vec_id)
    SELECT vec_id, {DET.det_round_sql('dist', 6)} AS pq_dist
    FROM score WHERE vec_id <> 0
    ORDER BY dist ASC, vec_id LIMIT 10
"""


ORACLE_PQ_ANN = _pq_oracle(4, 16, 64)


@query(ORACLE_PQ_ANN)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 64-dim float vectors compressed to 4
    one-byte codes (4 subspaces x 16 centroids), searched by asymmetric
    distance — the query's LUT rides into the plan as literals, scoring
    is 4 lookups + 4 adds per row with NO join and NO shuffle, and at
    100 TB the scan reads the codes column only (16x less IO than raw
    embeddings).  Codebook training is the deterministic mod-group
    decimal average (S.pq_codebook), so the DuckDB oracle replays the
    entire train -> encode -> ADC pipeline (ORACLE_PQ_ANN)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = S.pq_codebook(emb, num_sub=4, num_codes=16, dim=64)
    codes = S.pq_encode(emb, cb, num_sub=4, num_codes=16, dim=64)
    qrow = emb.filter(F.col("vec_id") == 0).head()
    return S.pq_topk(
        codes,
        cb,
        [float(x) for x in qrow["embedding"]],
        k=10,
        num_sub=4,
        num_codes=16,
        exclude_id=0,
    )


ORACLE_KNN_GRAPH = _EMB_LSH_PAIRS_CTE + """,
    sym AS (SELECT id_a AS vec_id, id_b AS neighbor_id, cos_sim FROM p
            UNION ALL
            SELECT id_b AS vec_id, id_a AS neighbor_id, cos_sim FROM p),
    r AS (SELECT vec_id, neighbor_id, cos_sim,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY cos_sim DESC, neighbor_id) AS nn_rank
          FROM sym)
    SELECT vec_id, neighbor_id, nn_rank, cos_sim FROM r WHERE nn_rank <= 3
"""


# Exact-duplicate collapse + MATERIALIZED CTEs, mirroring the operator
# (operators/dedup.py::prefix_jaccard_pairs): the pairwise prefix
# machinery runs on one representative per distinct text, identical-
# text pairs are jaccard 1 by definition, cross-group pairs inherit
# their representatives' jaccard.  Same exact output — verification is
# exact, so the qualifying pair SET is implementation-independent.
@query(ORACLE_KNN_GRAPH)




def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-NN graph over the embedding corpus via the banded
    sign-LSH blocking (operators/similarity.py::knn_graph_lsh) — the
    scale-bounded alternative to the O(n^2) exact graph; feeds
    graph-based clustering / diversity pipelines."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_graph_lsh(
        emb, k=3, n=_parquet_nrows(f"{sf_dir}/embeddings.parquet")
    )


ORACLE_SEMDEDUP = f"""
    WITH e AS MATERIALIZED (SELECT vec_id,
                      list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
               FROM embeddings),
    params AS (SELECT GREATEST(8, COUNT(*) // 600) AS nc FROM e),
    c AS MATERIALIZED (SELECT vec_id AS cell_id, v AS centroid
          FROM e CROSS JOIN params WHERE vec_id < params.nc),
    sims AS (SELECT e.vec_id, c.cell_id,
                    {_sim_sql('e.v', 'c.centroid')} AS s
             FROM e CROSS JOIN c),
    assign AS MATERIALIZED (SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cell_id) AS rn
        FROM sims) ranked WHERE rn = 1),
    m AS MATERIALIZED (SELECT a.vec_id, a.cell_id, e.v,
                 sqrt(list_sum(list_transform(e.v, y -> y * y))) AS nrm
          FROM assign a JOIN e ON e.vec_id = a.vec_id),
    drops AS (SELECT DISTINCT y.vec_id
              FROM m x JOIN m y ON x.cell_id = y.cell_id
                               AND x.vec_id < y.vec_id
              WHERE {_EMB_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm)
                    >= 0.35)
    SELECT vec_id, cell_id FROM m
    WHERE vec_id NOT IN (SELECT vec_id FROM drops)
"""


@query(ORACLE_SEMDEDUP)
def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embedding corpus: medoid
    cells, drop every vector with a lower-id in-cell neighbor at cosine
    >= 0.35, keep the rest (operators/similarity.py::semantic_dedup_keep).
    The pairwise comparison never leaves a cluster — O(n^2/C) total
    work, equi-join on cell_id, no cross join. The cell count GROWS
    with the corpus (max(8, n // 600), n from the parquet footer), so
    expected cluster size — and with it the per-cluster quadratic —
    stays ~600 at any scale; the centroid table remains broadcastable
    (C x dim doubles)."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _parquet_nrows(f"{sf_dir}/embeddings.parquet")
    cents = S.medoid_centroids(emb, max(8, n // 600))
    return S.semantic_dedup_keep(emb, cents, threshold=0.35)


ORACLE_RRF = f"""
    WITH {_BM25_CTES.strip()},
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = 0),
    dense AS (SELECT vec_id AS id,
                  CAST(FLOOR({_sim_sql('e.v', 'qv.v')} * 1000000.0 + 0.5)
                      AS BIGINT) AS rel_ppm
              FROM e CROSS JOIN qv WHERE vec_id <> 0),
    ra AS (SELECT id, rank FROM (
               SELECT id, ROW_NUMBER() OVER (
                   ORDER BY rel_ppm DESC, id) AS rank FROM dense) t
           WHERE rank <= 50),
    rb AS (SELECT id, rank FROM (
               SELECT doc_id AS id, ROW_NUMBER() OVER (
                   ORDER BY bm25 DESC, doc_id) AS rank FROM bm25_out) t
           WHERE rank <= 50),
    u AS (SELECT id, 1000000000 // (60 + rank) AS pts FROM ra
          UNION ALL SELECT id, 1000000000 // (60 + rank) FROM rb)
    SELECT id, CAST(SUM(pts) AS BIGINT) AS rrf_score,
           COUNT(*) AS n_lists
    FROM u GROUP BY id
"""


@query(ORACLE_RRF)
def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-search fusion: the dense ranking (cosine vs query vector 0
    over embeddings, exact-ppm relevance) and the sparse ranking (the
    BM25 query) fused with reciprocal-rank fusion
    (operators/retrieval.py::rrf_fuse) on the shared id space. Scores
    are exact integers (1e9 div (60 + rank)), so the fused order is a
    pure function of the two input rankings."""
    from kafka_firehose_nozzle_spark.operators import retrieval as R

    emb = _t(spark, sf_dir, "embeddings")
    q = F.broadcast(S.query_vector(emb, 0))
    v = F.col("embedding").cast("array<double>")
    sim = S.cosine(v, F.col("query_vec").cast("array<double>"))
    dense = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("vec_id").alias("id"),
            F.floor(sim * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("rel_ppm"),
        )
    )
    sparse = q_bm25_scores(spark, sf_dir).select(
        F.col("doc_id").alias("id"), "bm25"
    )
    ra = R.ranked(dense, "rel_ppm", "id", 50)
    rb = R.ranked(sparse, "bm25", "id", 50)
    return R.rrf_fuse([ra, rb], id_col="id", k=60)


def _mmr_oracle(k: int = 5, pool: int = 20, lam: int = 70) -> str:
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> "
        "CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "qv AS (SELECT v FROM e WHERE vec_id = 0)",
        f"cand AS (SELECT vec_id, CAST(FLOOR({_sim_sql('e.v', 'qv.v')}"
        f" * 1000000.0 + 0.5) AS BIGINT) AS rel_ppm, e.v"
        f" FROM e CROSS JOIN qv WHERE vec_id <> 0"
        f" ORDER BY rel_ppm DESC, vec_id LIMIT {pool})",
        f"ps AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
        f" CAST(FLOOR({_sim_sql('a.v', 'b.v')} * 1000000.0 + 0.5)"
        f" AS BIGINT) AS sim_ppm"
        f" FROM cand a JOIN cand b ON a.vec_id <> b.vec_id)",
        "sel1 AS (SELECT 1 AS mmr_rank, vec_id, rel_ppm FROM cand "
        "ORDER BY rel_ppm DESC, vec_id LIMIT 1)",
        "picked1 AS (SELECT vec_id FROM sel1)",
    ]
    for i in range(2, k + 1):
        p = i - 1
        ctes.append(
            f"step{i} AS (SELECT c.vec_id, c.rel_ppm, "
            f"{lam} * c.rel_ppm - {100 - lam} * MAX(ps.sim_ppm) AS score "
            f"FROM cand c JOIN ps ON ps.id_a = c.vec_id "
            f"JOIN picked{p} s ON ps.id_b = s.vec_id "
            f"WHERE c.vec_id NOT IN (SELECT vec_id FROM picked{p}) "
            f"GROUP BY c.vec_id, c.rel_ppm)"
        )
        ctes.append(
            f"sel{i} AS (SELECT {i} AS mmr_rank, vec_id, rel_ppm "
            f"FROM step{i} ORDER BY score DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"picked{i} AS (SELECT vec_id FROM picked{p} "
            f"UNION ALL SELECT vec_id FROM sel{i})"
        )
    union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, k + 1))
    return "WITH " + ",\n    ".join(ctes) + f" {union}"


ORACLE_MMR = _mmr_oracle(5, 20, 70)


@query(ORACLE_MMR)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-5 from the 20 most
    relevant candidates (lambda = 0.7) —
    operators/retrieval.py::mmr_rerank. All picks happen in exact ppm
    integer space, so the DuckDB oracle replays the greedy selection as
    5 unrolled CTE steps."""
    from kafka_firehose_nozzle_spark.operators import retrieval as R

    emb = _t(spark, sf_dir, "embeddings")
    return R.mmr_rerank(
        emb, S.query_vector(emb, 0), k=5, pool=20, lam_pct=70
    )


def _pca_oracle(iterations: int = 3, dim: int = 64) -> str:
    davg20 = (
        "CAST(CAST(SUM(CAST(val AS DECIMAL(20,12))) AS VARCHAR(64)) "
        "AS DOUBLE) / COUNT(*)"
    )
    dsum30 = (
        "CAST(CAST(SUM(CAST(term AS DECIMAL(30,12))) AS VARCHAR(64)) "
        "AS DOUBLE)"
    )

    def dotl(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(len({a})), "
            f"j -> {a}[j + 1] * {b}[j + 1]))"
        )

    nrm = "sqrt(list_sum(list_transform(yv, x2 -> x2 * x2)))"
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> "
        "CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "ex AS (SELECT vec_id, unnest(range(len(v))) AS pos, "
        "unnest(v) AS val FROM e)",
        f"mean AS (SELECT pos, {davg20} AS m FROM ex GROUP BY pos)",
        "ml AS (SELECT list(m ORDER BY pos) AS mv FROM mean)",
        "c AS (SELECT vec_id, list_transform(range(len(v)), "
        "i -> v[i + 1] - mv[i + 1]) AS cv FROM e CROSS JOIN ml)",
        f"v0 AS (SELECT list_transform(range({dim}), i -> 0.125) AS vv)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"p{i} AS (SELECT vec_id, {dotl('cv', 'vv')} AS proj "
            f"FROM c CROSS JOIN v{p})"
        )
        ctes.append(
            f"t{i} AS (SELECT u.j AS pos, p.proj * c.cv[u.j + 1] AS term "
            f"FROM p{i} p JOIN c USING (vec_id), "
            f"unnest(range({dim})) AS u(j))"
        )
        ctes.append(
            f"y{i} AS (SELECT pos, {dsum30} AS y FROM t{i} GROUP BY pos)"
        )
        ctes.append(
            f"yl{i} AS (SELECT list(y ORDER BY pos) AS yv FROM y{i})"
        )
        ctes.append(
            f"v{i} AS (SELECT list_transform(yv, x -> x / "
            f"(CASE WHEN {nrm} = 0 THEN 1.0 ELSE {nrm} END)) AS vv "
            f"FROM yl{i})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u.j AS pos,
           CAST(FLOOR(vv[u.j + 1] * 1000000.0 + 0.5) AS BIGINT)
               AS loading_ppm
    FROM v{iterations}, unnest(range({dim})) AS u(j)
"""
    )


ORACLE_PCA = _pca_oracle(3, 64)


@query(ORACLE_PCA)
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus (3 power
    iterations, exact-decimal matrix-vector products, centering via the
    decimal-mean route) — operators/similarity.py::pca_top_component.
    The DuckDB oracle replays mean, centering, and all 3 iterations as
    unrolled CTEs."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return S.pca_top_component(emb, iterations=3)


ORACLE_EMB_OUTLIERS = f"""
    WITH e AS MATERIALIZED (SELECT vec_id,
                      list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
               FROM embeddings),
    params AS (SELECT GREATEST(8, COUNT(*) // 600) AS nc FROM e),
    c AS MATERIALIZED (SELECT vec_id AS cell_id, v AS centroid
          FROM e CROSS JOIN params WHERE vec_id < params.nc),
    sims AS (SELECT e.vec_id, c.cell_id,
                    {_sim_sql('e.v', 'c.centroid')} AS s
             FROM e CROSS JOIN c),
    assign AS MATERIALIZED (SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cell_id) AS rn
        FROM sims) ranked WHERE rn = 1),
    scored AS MATERIALIZED (SELECT a.vec_id, a.cell_id,
                   CAST(FLOOR({_sim_sql('e.v', 'c.centroid')} * 1000000.0
                        + 0.5) AS BIGINT) AS sim_ppm
               FROM assign a JOIN e ON e.vec_id = a.vec_id
                             JOIN c ON c.cell_id = a.cell_id),
    st AS (SELECT cell_id, COUNT(*) AS n,
                  CAST(SUM(sim_ppm) AS BIGINT) AS s1,
                  CAST(SUM(sim_ppm * sim_ppm) AS BIGINT) AS s2
           FROM scored GROUP BY cell_id)
    SELECT s.vec_id, s.cell_id, s.sim_ppm
    FROM scored s JOIN st USING (cell_id)
    WHERE st.s1 - st.n * s.sim_ppm > 0
      AND 4 * (st.s1 - st.n * s.sim_ppm) * (st.s1 - st.n * s.sim_ppm)
          > 9 * (st.n * st.s2 - st.s1 * st.s1)
"""


@query(ORACLE_EMB_OUTLIERS)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier filter — the curation step that drops
    noise/garbled vectors before training: assign to medoid cells, then
    flag vectors whose cosine-to-own-centroid sits more than 1.5
    population std-devs BELOW the cell mean (the synthetic corpus's
    z-scores top out ~1.8, so 1.5 keeps the check non-trivial).

    Everything after the assignment is EXACT INTEGER arithmetic on ppm
    similarities (dev = sum - n*sim; flag iff dev > 0 and
    4*dev^2 > 9*(n*sumsq - sum^2)) — no float moment ever forms, so both
    engines agree bit-for-bit with no rounding-route machinery. Scale
    shape: zero-shuffle assignment (broadcast centroids), one
    partial-agg shuffle for C x 3 BIGINT moments, broadcast join back."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _parquet_nrows(f"{sf_dir}/embeddings.parquet")
    cents = S.medoid_centroids(emb, max(8, n // 600))
    assigned = S.ivf_assign(emb, cents)
    v = F.col("embedding").cast("array<double>")
    sim = S.cosine(v, F.col("centroid"))
    scored = assigned.join(F.broadcast(cents), "cell_id").select(
        "vec_id",
        "cell_id",
        F.floor(sim * 1000000.0 + F.lit(0.5)).cast("long").alias("sim_ppm"),
    )
    stats = scored.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sim_ppm").alias("s1"),
        F.sum(F.col("sim_ppm") * F.col("sim_ppm")).alias("s2"),
    )
    j = scored.join(F.broadcast(stats), "cell_id")
    dev = F.col("s1") - F.col("n") * F.col("sim_ppm")
    var9 = F.lit(9) * (
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    )
    return j.filter((dev > 0) & (F.lit(4) * dev * dev > var9)).select(
        "vec_id", "cell_id", "sim_ppm"
    )


ORACLE_PART_MATCHES = """
    WITH names AS (SELECT p_name AS name, COUNT(*) AS n_rows
                   FROM part GROUP BY p_name),
    toks AS (SELECT name, unnest(list_distinct(string_split(name, ' ')))
                 AS tok FROM names),
    freq AS (SELECT tok, COUNT(*) AS df_tok FROM toks GROUP BY tok),
    keyed AS (SELECT name, block_key, n_rows FROM (
        SELECT t.name, t.tok AS block_key, n.n_rows,
            ROW_NUMBER() OVER (PARTITION BY t.name
                               ORDER BY f.df_tok, t.tok) AS rn
        FROM toks t JOIN freq f ON t.tok = f.tok
        JOIN names n ON t.name = n.name) k WHERE rn <= 2),
    cand AS (SELECT DISTINCT a.name AS name_1, b.name AS name_2,
            a.n_rows AS n_rows_1, b.n_rows AS n_rows_2
        FROM keyed a JOIN keyed b ON a.block_key = b.block_key
        WHERE a.name < b.name)
    SELECT name_1, name_2, levenshtein(name_1, name_2) AS lev,
        n_rows_1, n_rows_2
    FROM cand
    WHERE levenshtein(name_1, name_2) BETWEEN 1 AND 4
"""


@query(ORACLE_PART_MATCHES)
def q_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog: near-duplicate canonical
    names via rarest-token blocking + Levenshtein verify. Candidate
    pairs form over DISTINCT names (vocabulary-bound at 100 TB), never
    raw rows; per-row facts come along as aggregated counts."""
    from kafka_firehose_nozzle_spark.operators.linkage import (
        blocked_name_pairs,
    )

    part = _t(spark, sf_dir, "part")
    return blocked_name_pairs(
        part.select(F.col("p_name")), "p_name", max_distance=4
    )


ORACLE_USER_SIM = """
    WITH comps AS (SELECT user_id AS k_, date_trunc('hour', ts) AS b_,
            CAST(SUM(CAST(FLOOR(value * 1000.0 + 0.5) AS DECIMAL(18,0)))
                 AS DECIMAL(18,0)) AS sv
        FROM events GROUP BY 1, 2),
    a AS (SELECT b_, sv AS sa FROM comps
          WHERE k_ = (SELECT MIN(user_id) FROM events)),
    na AS (SELECT CAST(SUM(CAST(sa * sa AS DECIMAL(38,0)))
                       AS DECIMAL(38,0)) AS na2 FROM a),
    norms AS (SELECT k_, CAST(SUM(CAST(sv * sv AS DECIMAL(38,0)))
                              AS DECIMAL(38,0)) AS n2
              FROM comps GROUP BY 1),
    dots AS (SELECT c.k_, CAST(SUM(CAST(c.sv * a.sa AS DECIMAL(38,0)))
                               AS DECIMAL(38,0)) AS dot
             FROM comps c JOIN a USING (b_) GROUP BY 1)
    SELECT k_ AS user_id,
        FLOOR(CAST(CAST(dot AS VARCHAR) AS DOUBLE)
              / (sqrt(CAST(CAST(n2 AS VARCHAR) AS DOUBLE))
                 * sqrt(CAST(CAST(na2 AS VARCHAR) AS DOUBLE)))
              * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM dots JOIN norms USING (k_) CROSS JOIN na
    WHERE k_ <> (SELECT MIN(user_id) FROM events)
    ORDER BY cos_sim DESC, user_id LIMIT 5
"""


@query(ORACLE_USER_SIM)
def q_user_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse time-series similarity: the 5 users whose hourly activity
    vector (sum of event value per hour, milli-unit exact) is most
    cosine-similar to the lowest-id anchor user. Vectors never
    materialize — the dot product is a broadcast equi-join on the hour
    bucket against the single anchor vector; norms and dots accumulate
    in exact DECIMAL and convert via VARCHAR (the repo's cross-engine
    exactness idiom), so ties and last-ulp ranks are deterministic."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.min("user_id").alias("user_id"))
    return S.sparse_cosine_topk(
        ev,
        "user_id",
        F.date_trunc("hour", F.col("ts")),
        F.col("value"),
        anchor,
        k=5,
    )


_TRUNC_DOT16 = (
    "list_sum(list_transform(range(16), i -> {a}[i + 1] * {b}[i + 1]))"
)

ORACLE_TRUNC_RECALL = f"""
    WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
    pairs AS (SELECT query_id, vec_id,
        {_EMB_DOT.format(a='v', b='qv')} /
        (sqrt(list_sum(list_transform(v, x -> x * x))) *
         sqrt(list_sum(list_transform(qv, x -> x * x)))) AS fs,
        {_TRUNC_DOT16.format(a='v', b='qv')} /
        (sqrt({_TRUNC_DOT16.format(a='v', b='v')}) *
         sqrt({_TRUNC_DOT16.format(a='qv', b='qv')})) AS ts
        FROM c CROSS JOIN q),
    tf AS (SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY fs DESC, vec_id) AS rn
            FROM pairs) r WHERE rn <= 10),
    tt AS (SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY ts DESC, vec_id) AS rn
            FROM pairs) r WHERE rn <= 10),
    m AS (SELECT tf.query_id, COUNT(*) AS n_matched
          FROM tf JOIN tt ON tf.query_id = tt.query_id
                          AND tf.vec_id = tt.vec_id
          GROUP BY tf.query_id)
    SELECT q.query_id,
        COALESCE(CAST(m.n_matched AS BIGINT), 0) AS n_matched,
        COALESCE(CAST(m.n_matched AS BIGINT), 0) * 1000000 // 10
            AS recall_ppm
    FROM q LEFT JOIN m ON q.query_id = m.query_id
"""


@query(ORACLE_TRUNC_RECALL)
def q_emb_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval: per query vector (vec_id < 10),
    the recall@10 of cosine top-k computed on the FIRST 16 dims against
    the full-64-dim top-k — the measurement that decides whether a
    pipeline can store/scan quarter-width embeddings.  Both rankings
    are brute-force over the corpus side with the query set BROADCAST
    (10 rows), per-query rank windows, and the overlap joins on
    (query, id) — at 100 TB this is the eval-harness shape: corpus
    scanned once per ranking, nothing but top-k rows ever shuffle.
    recall_ppm is exact integer (matched * 1e6 div k)."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 10)
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        S.cosine(F.col("v"), F.col("qv")).alias("fs"),
        S.cosine(
            F.slice(F.col("v"), 1, 16), F.slice(F.col("qv"), 1, 16)
        ).alias("ts"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("fs"), "vec_id")
    wt = Window.partitionBy("query_id").orderBy(F.desc("ts"), "vec_id")
    top_f = (
        pairs.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    top_t = (
        pairs.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 10)
        .select("query_id", "vec_id")
    )
    matched = (
        top_f.join(top_t, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return q.select("query_id").join(matched, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_matched"), F.lit(0))
        .cast("bigint")
        .alias("n_matched"),
        F.expr(
            "CAST(coalesce(n_matched, 0) AS BIGINT) * 1000000 div 10"
        ).alias("recall_ppm"),
    )


ORACLE_JL = """
    WITH xi AS (SELECT vec_id AS vid, i AS pos,
            CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS xi
        FROM embeddings CROSS JOIN range(64) t(i)),
    a AS (SELECT vid AS vec_a, pos, xi AS xa FROM xi WHERE vid % 20 = 0),
    b AS (SELECT vid - 1 AS vec_a, pos, xi AS xb FROM xi
          WHERE (vid - 1) % 20 = 0),
    d AS (SELECT a.vec_a, a.pos, xa - xb AS dx
          FROM a JOIN b ON a.vec_a = b.vec_a AND a.pos = b.pos),
    fdist AS (SELECT vec_a,
            CAST(SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT))
                AS HUGEINT) AS df
        FROM d GROUP BY vec_a),
    s AS (SELECT j, dcol,
            (('0x' || substr(md5(j || ',' || dcol), 1, 1))::BIGINT % 2)
                * 2 - 1 AS sgn
          FROM range(16) r1(j) CROSS JOIN range(64) r2(dcol)),
    y AS (SELECT vec_a, j, CAST(SUM(sgn * dx) AS HUGEINT) AS yj
          FROM d JOIN s ON s.dcol = d.pos GROUP BY 1, 2),
    proj AS (SELECT vec_a, CAST(SUM(yj * yj) AS HUGEINT) AS dp
             FROM y GROUP BY vec_a)
    SELECT f.vec_a, f.vec_a + 1 AS vec_b,
        CAST(df AS BIGINT) AS dist_full,
        CAST(dp AS BIGINT) AS dist_proj,
        CAST(dp * 1000000 // nullif(16 * df, 0) AS BIGINT) AS ratio_ppm
    FROM fdist f JOIN proj ON f.vec_a = proj.vec_a
"""


@query(ORACLE_JL)
def q_jl_distortion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1-projection distance-distortion audit over strided vector
    pairs — exact micro-integer arithmetic end to end.  See
    operators/similarity.py::jl_distortion_pairs."""
    return S.jl_distortion_pairs(_t(spark, sf_dir, "embeddings"))


ORACLE_PQ_RECALL = f"""
    SELECT n_exact, n_pq, n_overlap,
        n_overlap * 1000000 // n_exact AS recall_ppm
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM ({ORACLE_ANN}) a)
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_pq
                FROM ({ORACLE_PQ_ANN}) p)
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
                FROM ({ORACLE_ANN}) a JOIN ({ORACLE_PQ_ANN}) p
                ON a.vec_id = p.vec_id)
"""


# ---------------------------------------------------------------- wave 7b
@query(ORACLE_PQ_RECALL)


def q_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy eval of the PQ compressed index: recall@10 of the ADC
    top-10 (pq_ann_topk) against the exact brute-force cosine top-10
    (ann_cosine_topk) for the same query vector — the number that
    decides whether 16x IO compression is worth it.  Completes the
    eval family: lsh_recall_eval grades the dedup blocker,
    hll_error_audit the sketches, THIS grades the vector index.

    Scale shape: both rankings are bounded TakeOrdered(10) plans over
    the scan; the overlap is a 10-row left-semi join; three 1-row
    broadcast aggregates."""
    pq10 = q_pq_ann_topk(spark, sf_dir).select("vec_id")
    ex10 = q_ann_cosine_topk(spark, sf_dir).select("vec_id")
    hits = ex10.join(pq10, "vec_id", "left_semi")
    r = (
        ex10.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(
            F.broadcast(pq10.agg(F.count(F.lit(1)).alias("n_pq")))
        )
        .crossJoin(
            F.broadcast(hits.agg(F.count(F.lit(1)).alias("n_overlap")))
        )
    )
    return r.select(
        "n_exact",
        "n_pq",
        "n_overlap",
        F.expr("n_overlap * 1000000 div n_exact").alias("recall_ppm"),
    )
