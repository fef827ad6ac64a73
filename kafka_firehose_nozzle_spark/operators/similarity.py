"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how ANN is deployed on large corpora:

- ``cosine_topk``: exact brute-force top-k against a query vector — the
  baseline. One narrow pass (no shuffle except the final top-k, which is
  a tree-reduced TakeOrdered, not a global sort).
- ``ivf_assign`` + ``ivf_topk``: IVF-style scale path — assign every
  vector to its nearest of C centroids (broadcast join against the tiny
  centroid table, no shuffle of the corpus), then search only the probed
  cells. At 100 TB: partition/cluster the corpus by cell id so a query
  prunes ~C/nprobe of the data at the parquet-scan level.

Dot products use F.zip_with + F.aggregate on array<double> — JVM-side,
no Python — by default.  ``cosine_topk``/``ivf_topk`` also take
``impl="blas"``: an Arrow-batched pandas UDF that runs the whole
corpus × query cosine as one ``M @ q`` matrix-vector product per batch
(NumPy dispatches to the platform BLAS).  Never a row-at-a-time UDF —
tests/test_plan_shapes.py pins the plan to ArrowEvalPython.
Measured honestly (bench ann_dim256_*): at dim 256 / 100k rows on
local[32] the Arrow transfer outweighs the fold savings (~1.3 s vs
~0.8 s), so "wide" means wider still — the seam earns its keep when
scoring runs on a real BLAS thread pool/GPU or dims reach 10^3+; for
plain CPU scans the PQ ADC path (below) is the measured winner
(~0.6x the fold, reading 1/64th of the bytes).

The two impls agree to the emitted 4-decimal rounding but are NOT
bit-equal internally (a left fold vs BLAS pairwise summation differ in
the last ulp), which is why the oracle-checked registry queries stay on
``impl="expr"`` and the BLAS path is guarded by an equivalence test
instead (tests/test_operators.py::test_cosine_topk_blas_matches_expr).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions.detmath import det_round


def _double_sql(x: float) -> str:
    """Shortest round-trip decimal + ``D`` suffix — parses (Java's
    correctly-rounded ``Double.parseDouble``) to the identical binary64
    that ``F.lit(x)`` passes by value (pinned, with awkward reprs, by
    tests/test_operators.py::test_sign_bits_expr_matches_column_form)."""
    import math as _m

    if not _m.isfinite(x):
        raise ValueError(f"non-finite literal component {x!r}")
    return repr(float(x)) + "D"


def _array_double_sql(vals) -> str:
    return "array(" + ",".join(_double_sql(float(x)) for x in vals) + ")"


def _matrix_double_sql(rows) -> str:
    """C x dim literal matrix as ONE parseable SQL fragment. The Column
    API equivalent (F.array of F.array of F.lit) costs a py4j round trip
    PER DOUBLE — measured r11 at 28 s of driver construction for the
    4-iteration trained-IVF query (2,560 literals) vs milliseconds to
    parse the same tree from text (guide §7.3: planning is single-
    threaded driver work)."""
    return "array(" + ",".join(_array_double_sql(r) for r in rows) + ")"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with norms hoisted out of the pairwise expression.

    Bit-identical to ``cosine`` (same fold order, same division) but lets a
    self-join compute each row's norm once instead of once per pair — the
    higher-order fold is interpreted (not codegen'd), so this is the
    dominant per-pair cost in blocked near-dup joins."""
    return dot(a, b) / (norm_a * norm_b)


def blas_cosine_udf(query_vec: list[float]):
    """Arrow-batched cosine-vs-fixed-query as one BLAS matrix-vector
    product per batch.  The query vector rides in the UDF closure (it is
    scalar-scale: dim doubles), so the plan stays a pure map — no join,
    no shuffle; executors receive Arrow record batches and NumPy runs
    ``M @ q`` over the whole batch at once (~dim× fewer interpreter
    dispatches than the per-element fold).  NULL embeddings and
    zero-norm rows score NaN in the batch, which Arrow's pandas_udf
    conversion emits as SQL NULL — so they sort LAST under the desc
    ranking exactly like the expr path's NULL cosine, instead of
    crashing np.vstack(None) or silently ranking a zero vector at 0.0
    (the expr path surfaces zero norms as an ANSI divide-by-zero — its
    strictness is deliberate; this path is the tolerant scan)."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum())) or 1.0

    @pandas_udf("double")
    def _sim(v: pd.Series) -> pd.Series:
        vals = v.to_numpy()
        if len(vals) == 0:
            return pd.Series(np.zeros(0))
        mask = np.array([x is not None for x in vals])
        out = np.full(len(vals), np.nan)
        if mask.any():
            # vstack over the per-row ndarrays Arrow hands us — never
            # .tolist(), which would box every component into a Python
            # float and cost more than the BLAS call saves
            m = np.vstack(vals[mask]).astype(np.float64, copy=False)
            n = np.sqrt((m * m).sum(axis=1))
            good = n > 0.0
            n[~good] = 1.0
            sims = (m @ q) / (n * qn)
            sims[~good] = np.nan  # zero-norm == undefined, like expr's NULL
            out[mask] = sims
        return pd.Series(out)

    return _sim


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    impl: str = "expr",
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query DataFrame
    [query_id, query_vec]. The query side is broadcast — the corpus is
    scanned once, never shuffled; LIMIT k is a TakeOrdered (per-partition
    top-k + driver merge), not a global sort.

    ``impl="expr"`` (default) keeps the dot product as a JVM fold —
    bit-reproducible by the SQL oracle.  ``impl="blas"`` runs it as an
    Arrow-batched NumPy matrix-vector product (see blas_cosine_udf) —
    the wide-embedding fast path; same top-k at 4-decimal rounding."""
    if impl == "blas":
        qrow = query.select("query_id", "query_vec").head()
        if qrow is None:
            raise ValueError("query DataFrame is empty")
        sim_udf = blas_cosine_udf([float(x) for x in qrow["query_vec"]])
        # NO JVM-side cast to array<double>: a float32 corpus crosses the
        # Arrow boundary at half the bytes and NumPy's float32->float64
        # upcast is exact, so the scores are bit-identical either way
        scored = df.select(
            F.col(id_col), sim_udf(F.col(vec_col)).alias("_sim")
        )
        if exclude_self:
            scored = scored.filter(F.col(id_col) != F.lit(qrow["query_id"]))
        return (
            scored.orderBy(F.desc("_sim"), F.col(id_col))
            .limit(k)
            .select(id_col, det_round(F.col("_sim"), 4).alias("cos_sim"))
        )
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r} (want 'expr' or 'blas')")
    # hoist the query-vector norm: computed once on the 1-row broadcast
    # side instead of once per corpus row
    q = F.broadcast(
        query.withColumn(
            "_qnorm", l2_norm(F.col("query_vec").cast("array<double>"))
        )
    )
    joined = df.crossJoin(q)
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col("query_id"))
    v = F.col(vec_col).cast("array<double>")
    sim = cosine_prenormed(
        v,
        F.col("query_vec").cast("array<double>"),
        l2_norm(v),
        F.col("_qnorm"),
    )
    # order by the raw similarity (deterministic: same fold order as the
    # oracle) with id tie-break; round only in the output projection
    return (
        joined.select(F.col(id_col), sim.alias("_sim"))
        .orderBy(F.desc("_sim"), F.col(id_col))
        .limit(k)
        .select(id_col, det_round(F.col("_sim"), 4).alias("cos_sim"))
    )


def query_vector(
    df: DataFrame, query_id: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """1-row [query_id, query_vec] DataFrame for cosine_topk."""
    return df.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )


# --- IVF-style ANN (scale path) ---------------------------------------------


def medoid_centroids(
    df: DataFrame,
    num_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroids: the first ``num_cells`` vectors by id act
    as cell medoids. No averaging — fully reproducible across engines
    (used by the oracle-checked IVF query); production swaps in trained
    centroids without changing the plan shape."""
    return df.filter(F.col(id_col) < num_cells).select(
        F.col(id_col).alias("cell_id"),
        F.col(vec_col).cast("array<double>").alias("centroid"),
    )


# Above this many literal doubles (C x dim), the centroid table stops
# riding into the plan as literal arrays and the assignment switches to
# a broadcast-variable Arrow map instead. Rationale: Catalyst treats
# every literal as an expression-tree node, and the round-1 finding
# (SCALE.md) is that ANALYSIS time is a real cost — a production IVF
# (C ~ 1e4-1e5 cells x dim 256 -> 1e6-1e7 literals) would spend more
# time planning the multi-MB tree than running it. 1e5 doubles (~800 KB
# of plan, C=400 @ dim 256) planned in well under a second in the
# round-11 measurement; the oracle corpora (C <= a few hundred, dim 64)
# sit far below it, so every frozen pin stays on the literal path.
LITERAL_CENTROID_DOUBLES_CAP = 100_000


def _argmax_cell_udf(spark, cents_rows, prenormalized: bool):
    """Arrow-batched nearest-centroid scorer for the above-cap path.

    The centroid matrix ships ONCE per executor as a SparkContext
    broadcast (torrent blocks, not a per-task closure — at production C
    the matrix is tens/hundreds of MB and a closure copy per task would
    dominate). Each Arrow batch scores as one ``X @ M.T`` BLAS product;
    argmax takes the FIRST maximum, matching the literal path's
    array_position tie-break over centroids sorted by cell_id. NULL
    embeddings return SQL NULL cell_id, same as the literal path.

    Not bit-identical to the literal fold (BLAS pairwise summation vs
    left fold differ in the last ulp), which is why the gate keeps
    oracle-scale centroid tables on the literal path; equality of the
    resulting ASSIGNMENTS on the test corpus is pinned by
    tests/test_operators.py::test_ivf_assign_broadcast_matches_literal."""
    from pyspark.sql.functions import pandas_udf

    cells = np.array([cid for cid, _ in cents_rows], dtype=np.int64)
    M = np.vstack([c for _, c in cents_rows]).astype(np.float64)
    if prenormalized:
        cn = None
    else:
        cn = np.sqrt((M * M).sum(axis=1))
        cn[cn == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((cells, M, cn))

    @pandas_udf("bigint")
    def _cell(v: pd.Series) -> pd.Series:
        cells_, M_, cn_ = bc.value
        vals = v.to_numpy()
        out = np.zeros(len(vals), dtype=np.int64)
        mask = np.array([x is not None for x in vals], dtype=bool)
        if mask.any():
            X = np.vstack(vals[mask]).astype(np.float64, copy=False)
            sims = X @ M_.T
            if cn_ is not None:
                xn = np.sqrt((X * X).sum(axis=1))
                xn[xn == 0.0] = 1.0
                sims = sims / (xn[:, None] * cn_[None, :])
            out[mask] = cells_[np.argmax(sims, axis=1)]
        res = pd.array(out, dtype="Int64")
        res[~mask] = pd.NA
        return pd.Series(res)

    return _cell, bc


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "auto",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    ``centroids``: [cell_id, centroid(array<double>)] — scalar-scale
    (C × dim doubles), so it is collected driver-side and the
    assignment is a pure zero-shuffle map either way (the previous
    implementation crossJoined the corpus with the centroid table and
    ranked with a per-row window — n·C rows each carrying the full
    embedding through a hash shuffle, the opposite of this docstring's
    claim at 100 TB). Two physical forms, gated on plan size:

    - ``mode="literal"`` (auto below LITERAL_CENTROID_DOUBLES_CAP):
      centroids ride into the plan as literal arrays; pure JVM
      expression, zero Python. Arithmetic is BIT-IDENTICAL to the old
      cosine_prenormed path: the driver-side centroid norm replicates
      l2_norm's left fold + sqrt (same IEEE sequence), the division is
      unchanged, and first-occurrence array_position over centroids
      sorted by cell_id reproduces the window's (sim desc, cell_id asc)
      tie-break — so the frozen oracle pins are untouched.
    - ``mode="broadcast"`` (auto above the cap): centroids ship once
      per executor as a SparkContext broadcast and each Arrow batch
      scores as one BLAS matmul — the production-C path, where a
      literal tree (1e6+ doubles) would stall Catalyst analysis
      (the round-1 SCALE.md finding). Still zero shuffle of the
      corpus; only assignments differ from literal by last-ulp ties
      (equality pinned on the test corpus).

    NULL embeddings get NULL cell_id in BOTH modes (array_position over
    an all-NULL sims array is NULL; the Arrow path masks them) — a
    deliberate improvement over the old crossJoin+window path, which
    assigned NULL vectors to the lowest cell_id; pinned by
    tests/test_operators.py::test_ivf_assign_null_embedding_gets_null_cell.

    Output adds a ``cell_id`` column. At scale, write the corpus
    partitioned by cell_id so queries prune scans."""
    import math

    if mode not in ("auto", "literal", "broadcast"):
        raise ValueError(f"unknown mode {mode!r} (want auto/literal/broadcast)")
    cents_rows = sorted(
        (
            (int(r["cell_id"]), [float(x) for x in r["centroid"]])
            for r in centroids.collect()
        ),
        key=lambda t: t[0],
    )
    if not cents_rows:
        raise ValueError("ivf_assign: empty centroid table")
    n_literal_doubles = sum(len(c) for _, c in cents_rows)
    if mode == "auto":
        mode = (
            "literal"
            if n_literal_doubles <= LITERAL_CENTROID_DOUBLES_CAP
            else "broadcast"
        )

    v = F.col(vec_col).cast("array<double>")
    if mode == "broadcast":
        # the broadcast's lifetime is the returned plan's lifetime —
        # ContextCleaner reclaims it once the DataFrame is GC'd
        cell, _bc = _argmax_cell_udf(
            df.sparkSession, cents_rows, prenormalized=False
        )
        return df.withColumn("cell_id", cell(v))

    def fold_norm(c: list[float]) -> float:
        # exact replica of l2_norm's JVM left fold (acc + v*v, then sqrt)
        acc = 0.0
        for x in c:
            acc = acc + x * x
        return math.sqrt(acc)

    # Single-parse SQL construction (r11): the Column-API form built one
    # py4j object per centroid double; the parsed tree is value-identical
    # (same zip_with/aggregate left folds, same literal binary64s — see
    # _matrix_double_sql) and costs one round trip total.
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    dot_sql = (
        f"aggregate(zip_with({vsql}, c, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )
    vnorm_sql = f"sqrt(aggregate({vsql}, 0.0D, (acc, x) -> acc + x * x))"
    sims_sql = (
        f"zip_with({_matrix_double_sql([c for _, c in cents_rows])}, "
        f"{_array_double_sql([fold_norm(c) for _, c in cents_rows])}, "
        f"(c, n) -> {dot_sql} / ({vnorm_sql} * n))"
    )
    cells = F.expr(
        "array(" + ",".join(f"{cid}L" for cid, _ in cents_rows) + ")"
    )
    pos = F.expr(
        f"CAST(array_position({sims_sql}, array_max({sims_sql})) AS INT)"
    )
    # the when() guard is load-bearing: a NULL embedding folds to NULL
    # pos, and Spark 4.1's element_at evaluates a NULL *column* index as
    # -1 (last element!) rather than NULL — unguarded, NULL vectors
    # would silently land in the highest cell_id
    return df.withColumn(
        "cell_id", F.when(pos.isNotNull(), F.element_at(cells, pos))
    )


def _component_avg(d: DataFrame) -> DataFrame:
    """(cell_id, pos, v) -> per-cell centroid arrays, with the component
    average routed through an exact decimal sum: decimal addition is
    order-independent, so the resulting centroids are bit-identical across
    partitionings AND across engines (a double SUM/AVG is fold-order
    dependent; DuckDB and Spark would disagree in the last ulp).

    The decimal sum goes through STRING before the double cast: DuckDB's
    int128->double cast double-rounds once the scaled integer exceeds
    2^53 (component sums above ~9007 at scale 12), while string parsing
    is correctly rounded in both engines — the exact decimal digits parse
    to the identical double regardless of engine or formatting."""
    return (
        d.groupBy("cell_id", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(20,12)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "cell_id",
            F.transform(F.col("pc"), lambda x: x.getField("c")).alias("centroid"),
        )
    )


def kmeans_like_centroids(
    df: DataFrame,
    num_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
) -> DataFrame:
    """Cheap deterministic centroid seeding: average vectors within
    ``init``-assigned groups (one aggregation; good enough to exercise the
    IVF plumbing — swap in k-means|| offline training for production).

    ``init="hash"`` groups by xxhash64(id) % C; ``init="mod"`` groups by
    id % C — equally arbitrary for seeding, but expressible in ANSI SQL,
    which lets the DuckDB oracle replay the whole training run."""
    if init == "hash":
        cell = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_cells))
    elif init == "mod":
        cell = F.pmod(F.col(id_col), F.lit(num_cells))
    else:
        raise ValueError(f"unknown init {init!r} (want 'hash' or 'mod')")
    d = df.select(
        cell.alias("cell_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    return _component_avg(d)


def kmeans_centroids(
    df: DataFrame,
    num_cells: int,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
    mode: str = "auto",
) -> DataFrame:
    """Trained IVF centroids: Lloyd's k-means, expressed Spark-first.

    Scale shape per iteration (the part that must survive 100 TB):

    - **assignment is a pure map, zero shuffle** — the C centroids are a
      scalar-scale object (C × dim doubles), so they ride into the plan
      as literal arrays and each row computes its argmax-cosine cell
      locally. No corpus crossJoin, no per-row window.
    - **update is one partial-aggregated shuffle** — posexplode to
      (cell, pos, v) then avg; map-side combine reduces the shuffle to
      ≤ C × dim groups per task regardless of corpus size.
    - the driver only ever materializes the centroid table itself
      (like the connected-components loop reading a scalar per round),
      never corpus rows.

    Init is the deterministic group average (kmeans_like_centroids; see
    its ``init`` modes) and every component average is an exact decimal
    sum, so training is bit-reproducible run-to-run and — with
    ``init="mod"`` — replayable by a plain-SQL oracle (the 4-iteration
    unrolled CTE in ``queries.similarity.ORACLE_IVF_TRAINED``). Returns
    [cell_id, centroid] compatible with ivf_assign/ivf_topk.

    ``mode`` gates the assignment's physical form exactly like
    ivf_assign: ``"literal"`` (auto below LITERAL_CENTROID_DOUBLES_CAP)
    embeds the C×dim centroids as literal arrays; ``"broadcast"`` (auto
    above the cap — production C) ships them as a SparkContext
    broadcast and scores each Arrow batch with one BLAS matmul. Either
    way the per-iteration shape is unchanged: zero-shuffle assignment
    map + one partial-aggregated update shuffle.
    """
    import math

    if mode not in ("auto", "literal", "broadcast"):
        raise ValueError(f"unknown mode {mode!r} (want auto/literal/broadcast)")
    spark = df.sparkSession

    def unit(c: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        return [x / n for x in c]

    seed = {
        int(r["cell_id"]): [float(x) for x in r["centroid"]]
        for r in kmeans_like_centroids(
            df, num_cells, id_col, vec_col, init
        ).collect()
    }
    if not seed:
        raise ValueError("kmeans_centroids: empty corpus")
    # dense 0..C-1 index; a hash cell empty at tiny SF borrows a neighbor
    cur = [seed.get(i, seed[min(seed)]) for i in range(num_cells)]
    v = F.col(vec_col).cast("array<double>")
    dim = len(cur[0])
    use_broadcast = mode == "broadcast" or (
        mode == "auto" and num_cells * dim > LITERAL_CENTROID_DOUBLES_CAP
    )
    for _ in range(max_iter):
        # centroids pre-normalized driver-side: argmax cosine == argmax dot,
        # so the per-row assignment is C*dim multiply-adds and nothing else
        iter_bc = None
        if use_broadcast:
            cell_udf, iter_bc = _argmax_cell_udf(
                spark,
                [(i, unit(c)) for i, c in enumerate(cur)],
                prenormalized=True,
            )
            cell = cell_udf(v).cast("int")
        else:
            # single-parse literal centroids (r11): one py4j round trip
            # per iteration instead of C x dim — see _matrix_double_sql
            vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
            sims_sql = (
                f"transform({_matrix_double_sql([unit(c) for c in cur])}, "
                f"c -> aggregate(zip_with({vsql}, c, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x))"
            )
            cell = F.expr(
                f"CAST(array_position({sims_sql}, array_max({sims_sql}))"
                " - 1 AS INT)"
            )
        # STAGE the assignment below the explode: as a sibling of
        # posexplode the argmax lands in the Project ABOVE the Generate
        # and is re-evaluated once per exploded row — dim x the work
        # (measured r11: 6.4 s -> 0.7 s per iteration at sf0.1). An
        # aliasing select first puts it in the Generate's child, once
        # per input row.
        staged = df.select(cell.alias("cell_id"), v.alias("_v"))
        updated = _component_avg(
            staged.select(
                "cell_id", F.posexplode(F.col("_v")).alias("pos", "v")
            )
        )
        nxt_map = {
            int(r["cell_id"]): [float(x) for x in r["centroid"]]
            for r in updated.collect()
        }
        if iter_bc is not None:
            # each iteration ships its own C x dim matrix; release it
            # eagerly — at production C, 8 un-reclaimed ~200 MB
            # broadcasts would otherwise sit on every executor until GC
            iter_bc.unpersist()
        nxt = [nxt_map.get(i, cur[i]) for i in range(num_cells)]
        if nxt == cur:
            break
        cur = nxt
    return spark.createDataFrame(
        list(enumerate(cur)), "cell_id bigint, centroid array<double>"
    )


# --- Product quantization (compressed ANN) ----------------------------------


def pq_codebook(
    df: DataFrame,
    num_sub: int = 4,
    num_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: split each vector into ``num_sub``
    contiguous subvectors and average them within ``id % num_codes``
    groups — one partial-aggregated shuffle whose key space is
    num_sub × num_codes × subdim groups regardless of corpus size.
    Component averages are exact decimal sums routed through VARCHAR
    (same contract as _component_avg), so the codebook is
    bit-reproducible across partitionings AND engines — a plain-SQL
    oracle replays it.  Production swaps in per-subspace Lloyd's
    (kmeans_centroids over the sliced column) without changing the
    downstream plan shape.

    Returns [sub, code, centroid(array<double>)] —
    num_sub × num_codes rows (scalar-scale, like the IVF centroid table).
    """
    subdim = dim // num_sub
    v = F.col(vec_col).cast("array<double>")
    comp = df.select(
        F.pmod(F.col(id_col), F.lit(num_codes)).alias("code"),
        F.posexplode(v).alias("p", "v"),
    ).select(
        (F.col("p") / F.lit(subdim)).cast("int").alias("sub"),
        "code",
        F.pmod(F.col("p"), F.lit(subdim)).alias("pos"),
        "v",
    )
    return (
        comp.groupBy("sub", "code", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(20,12)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy("sub", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "sub",
            "code",
            F.transform(F.col("pc"), lambda x: x.getField("c")).alias("centroid"),
        )
    )


def _dense_codebook(
    codebook: DataFrame, num_sub: int, num_codes: int
) -> dict:
    """Collect the codebook as a DENSE {(sub, code): centroid} table.
    pq_codebook only emits codes that had members (id % num_codes), so a
    corpus whose ids don't cover every residue leaves holes that used
    to KeyError in pq_encode/pq_topk; missing codes borrow the
    subspace's lowest present code (the kmeans empty-cell precedent).
    Deterministic; a borrowed duplicate can win the first-occurrence
    argmin over its original, but both decode to the IDENTICAL
    centroid, so ADC distances and top-k are unchanged — only the code
    byte differs, and only on corpora with holes."""
    rows = {
        (int(r["sub"]), int(r["code"])): [float(x) for x in r["centroid"]]
        for r in codebook.collect()
    }
    for s in range(num_sub):
        present = [j for j in range(num_codes) if (s, j) in rows]
        if not present:
            raise ValueError(
                f"pq codebook has no codes for subspace {s} (empty corpus?)"
            )
        fallback = rows[(s, present[0])]
        for j in range(num_codes):
            rows.setdefault((s, j), fallback)
    return rows


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    num_sub: int = 4,
    num_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "auto",
) -> DataFrame:
    """Encode each vector as ``num_sub`` nearest-centroid codes — the
    64-byte float32 subvector becomes ONE byte (num_codes ≤ 256), a
    16–64× compression that is the point of PQ at 100 TB: the search
    scan reads only the codes column (column pruning drops the raw
    embeddings entirely) and memory-resident indexes fit corpus-scale.

    The codebook is collected driver-side (num_sub × num_codes rows —
    scalar-scale, the kmeans_centroids precedent). ``mode`` gates its
    physical form exactly like ivf_assign: ``"literal"`` (auto while
    dim × num_codes ≤ LITERAL_CENTROID_DOUBLES_CAP, i.e. every oracle
    corpus) rides it into the plan as literal arrays — per row,
    num_sub slices × num_codes left-fold distances, argmin by
    array_position (first occurrence == lowest code, matching the
    oracle's tie break). ``"broadcast"`` (auto above the cap —
    production dim 512+/8-bit codebooks) ships the codebook once per
    executor and argmins each Arrow batch in NumPy; identical codes on
    the pinned corpus (test_pq_encode_broadcast_matches_literal), not
    bit-identical distance arithmetic. Either way encoding is a
    ZERO-SHUFFLE map. Output: [id, codes(array<int>)].
    """
    if mode not in ("auto", "literal", "broadcast"):
        raise ValueError(f"unknown mode {mode!r} (want auto/literal/broadcast)")
    subdim = dim // num_sub
    rows = _dense_codebook(codebook, num_sub, num_codes)
    if mode == "auto":
        mode = (
            "literal"
            if num_sub * num_codes * subdim <= LITERAL_CENTROID_DOUBLES_CAP
            else "broadcast"
        )
    v = F.col(vec_col).cast("array<double>")
    if mode == "broadcast":
        from pyspark.sql.functions import pandas_udf

        M = np.zeros((num_sub, num_codes, subdim), dtype=np.float64)
        for (s, j), c in rows.items():
            M[s, j] = c
        bc = df.sparkSession.sparkContext.broadcast(M)

        @pandas_udf("array<int>")
        def _codes(col: pd.Series) -> pd.Series:
            M_ = bc.value
            ns, nc, sd = M_.shape
            vals = col.to_numpy()
            out = [None] * len(vals)
            idx = [i for i, x in enumerate(vals) if x is not None]
            if idx:
                X = np.vstack([vals[i] for i in idx]).astype(
                    np.float64, copy=False
                )
                per_sub = []
                for s in range(ns):
                    sv = X[:, s * sd : (s + 1) * sd]
                    # (rows, codes): squared L2 to every code centroid
                    d = ((sv[:, None, :] - M_[s][None, :, :]) ** 2).sum(
                        axis=2
                    )
                    per_sub.append(np.argmin(d, axis=1))
                codes = np.stack(per_sub, axis=1).astype(np.int32)
                for row_i, i in enumerate(idx):
                    out[i] = codes[row_i].tolist()
            return pd.Series(out)

        return df.select(F.col(id_col), _codes(v).alias("codes"))
    codes = []
    # single-parse literal codebooks (r11): one py4j round trip per
    # subspace instead of num_codes x subdim — see _matrix_double_sql;
    # the parsed slice/(x-y)*(x-y) folds are the Column API's exact trees
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    for s in range(num_sub):
        cents_sql = _matrix_double_sql(
            [rows[(s, j)] for j in range(num_codes)]
        )
        sv_sql = f"slice({vsql}, {s * subdim + 1}, {subdim})"
        dists_sql = (
            f"transform({cents_sql}, c -> aggregate(zip_with({sv_sql}, c, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
        )
        codes.append(
            F.expr(
                f"CAST(array_position({dists_sql}, array_min({dists_sql}))"
                " - 1 AS INT)"
            )
        )
    return df.select(F.col(id_col), F.array(*codes).alias("codes"))


def pq_topk(
    codes_df: DataFrame,
    codebook: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_sub: int = 4,
    num_codes: int = 16,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    The query's distance to every codebook centroid is a num_sub ×
    num_codes lookup table computed driver-side in pure IEEE doubles
    (the (x-y)*(x-y) left fold the code assignment uses, so the table
    is bit-identical to what either engine would compute).  Scoring is
    then a pure map over the codes column: zip the row's codes with
    the literal LUT, pick one double per subspace, left-fold add —
    4 array lookups + 4 adds per row, no join, no shuffle; top-k is a
    TakeOrdered.  At 100 TB this scan touches ~num_sub bytes per
    vector instead of dim × 4."""
    dim = len(query_vec)
    subdim = dim // num_sub
    rows = _dense_codebook(codebook, num_sub, num_codes)
    lut = []
    for s in range(num_sub):
        qs = [float(x) for x in query_vec[s * subdim : (s + 1) * subdim]]
        per_code = []
        for j in range(num_codes):
            c = rows[(s, j)]
            acc = 0.0
            for x, y in zip(qs, c):
                acc = acc + (x - y) * (x - y)
            per_code.append(acc)
        lut.append(per_code)
    # single-parse literal LUT (r11) — value-identical, one py4j call
    lut_lit = F.expr(_matrix_double_sql(lut))
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            lut_lit,
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = codes_df.select(F.col(id_col), dist.alias("_dist"))
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != F.lit(exclude_id))
    return (
        scored.orderBy(F.asc("_dist"), F.col(id_col))
        .limit(k)
        .select(id_col, det_round(F.col("_dist"), 6).alias("pq_dist"))
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """ANN top-k: probe the nprobe nearest cells only.

    ``assigned`` must carry cell_id (from ivf_assign). The cell filter is
    a semi-join against an nprobe-row broadcast — with cell-partitioned
    storage it becomes partition pruning at the scan.  ``impl`` selects
    the in-cell scoring path (see cosine_topk); probe selection stays on
    the expression path either way (C rows — never the bottleneck).
    """
    q = F.broadcast(query)
    probe_cells = (
        centroids.crossJoin(q)
        .select(
            "cell_id",
            cosine(F.col("centroid"), F.col("query_vec").cast("array<double>")).alias(
                "_sim"
            ),
        )
        # cell_id tie-break: limit(nprobe) on tied centroid sims would
        # otherwise probe a partition-order-dependent cell set (every
        # other ranking in this module tie-breaks on id for this reason)
        .orderBy(F.desc("_sim"), F.col("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    pruned = assigned.join(F.broadcast(probe_cells), "cell_id", "left_semi")
    return cosine_topk(pruned, query, k, id_col, vec_col, impl=impl)


# --- kNN graph + semantic dedup (SemDeDup-style) -----------------------------


def knn_graph_lsh(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int = 2,
    n: int | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Approximate k-nearest-neighbor graph over an embedding corpus,
    blocked by the same banded sign-LSH buckets as
    ``dedup.embedding_lsh_dup_pairs`` (bucket count grows ~n/100, so the
    per-bucket quadratic stays bounded at any corpus size; an exact kNN
    graph is the O(n^2) cross join this exists to avoid).

    Every intra-bucket candidate pair is scored once (threshold -1 keeps
    them all), symmetrized, and each vertex keeps its ``k`` best
    neighbors by (cos_sim desc, neighbor id) — ranking on the SAME
    6-decimal-rounded similarity the rows emit, so the rank is a pure
    function of the output and a SQL oracle replays it exactly.

    Output: [vec_id, neighbor_id, nn_rank, cos_sim]. Vertices whose
    buckets contain no other member are absent (no candidates — the
    LSH recall trade, same as the dup-pairs operator).

    Plan shape: one (band,bucket) equi-join + one distinct for the
    candidate set, one shuffle for the per-vertex top-k window; vectors
    are fetched per distinct pair, never shuffled through the join.
    """
    from pyspark.sql import Window

    from kafka_firehose_nozzle_spark.operators.dedup import (
        embedding_lsh_dup_pairs,
    )

    pairs = embedding_lsh_dup_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        num_bands=num_bands,
        threshold=-1.0,
        n=n,
        impl=impl,
    )
    # symmetrize by EXPLODING each scored pair into both directions —
    # a unionAll of two selects over `pairs` would execute the whole
    # candidate-scoring lineage twice (measured 2x at sf0.1); the
    # explode emits both rows from one evaluation.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias(id_col),
                    F.col("id_b").alias("neighbor_id"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("id_b").alias(id_col),
                    F.col("id_a").alias("neighbor_id"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        sym.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(id_col, "neighbor_id", "nn_rank", "cos_sim")
    )


def semantic_dedup_keep(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every vector to its nearest centroid, compare pairs ONLY within a
    cluster, and drop any vector that has a lower-id in-cluster neighbor
    with cosine >= ``threshold`` (each near-dup group keeps its earliest
    member). Returns the keepers as [vec_id, cell_id].

    This is the published recipe for trillion-token corpora precisely
    because of its scale shape: the O(n^2) semantic comparison is fenced
    into clusters of ~n/C vectors, so total pair work is O(n^2/C) and
    each cluster's pairwise join is an equi-join on cell_id — never a
    cross join. Choose C ~ n/1000 in production to bound cluster sizes;
    the centroid table stays broadcastable (C x dim doubles).

    Per-row norms are hoisted and computed once; the drop set (only the
    duplicate fringe, orders of magnitude smaller than the corpus at
    realistic thresholds) comes back via a left-anti join, mirroring
    ``dedup_corpus``.

    ``impl="gemm"`` scores each cluster's pairwise cosines as one NumPy
    gram-matrix product inside applyInPandas (vectors cross Arrow once
    per cluster, not once per pair) — the measured scale path, same
    trade as ``dedup.embedding_lsh_dup_pairs(impl="gemm")``; the
    oracle-checked registry query stays on the bit-replayable expr
    fold. Equivalence pinned by
    tests/test_operators.py::test_semdedup_gemm_matches_expr.
    """
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    v = F.col(vec_col).cast("array<double>")
    if impl == "gemm":
        import numpy as np
        import pandas as pd

        thr = float(threshold)

        def drop_ids(pdf: pd.DataFrame) -> pd.DataFrame:
            # NULL embeddings can neither drop nor be dropped (the expr
            # path's NULL cosine never passes >= threshold), so exclude
            # them BEFORE vstack — np.vstack(None) would otherwise
            # crash the job where expr completes
            pdf = pdf[[x is not None for x in pdf["v"]]]
            ids = pdf["id"].to_numpy()
            if len(ids) < 2:
                return pd.DataFrame({"id": []}).astype({"id": "int64"})
            m = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            nrm = np.sqrt((m * m).sum(axis=1))
            nrm[nrm == 0.0] = 1.0
            g = (m @ m.T) / np.outer(nrm, nrm)
            order = np.argsort(ids, kind="stable")
            ids_s = ids[order]
            g = g[np.ix_(order, order)]
            iu, ju = np.triu_indices(len(ids_s), k=1)
            hit = g[iu, ju] >= thr
            return pd.DataFrame({"id": np.unique(ids_s[ju[hit]])})

        cells = assigned.select(
            "cell_id", F.col(id_col).alias("id"), v.alias("v")
        )
        drops = (
            cells.groupBy("cell_id")
            .applyInPandas(drop_ids, "id long")
            .select(F.col("id").alias(id_col))
            .distinct()
        )
        return assigned.join(drops, id_col, "left_anti").select(
            id_col, "cell_id"
        )
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r} (want 'expr' or 'gemm')")
    sides = assigned.select(
        "cell_id", F.col(id_col).alias("id"), v.alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    a = sides.select(
        "cell_id",
        F.col("id").alias("id_a"),
        F.col("v").alias("_va"),
        F.col("nrm").alias("_na"),
    )
    b = sides.select(
        "cell_id",
        F.col("id").alias("id_b"),
        F.col("v").alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    drops = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_prenormed(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            )
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(drops, id_col, "left_anti").select(id_col, "cell_id")


def pca_top_component(
    df: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration, with every cross-engine-hazardous reduction routed
    through exact arithmetic — the embedding-analytics primitive behind
    whitening / anisotropy checks on LLM corpora.

    Spark-first scale shape (per iteration):
    - the current direction v is a scalar-scale object (dim doubles) and
      rides into the plan as a LITERAL array, so each row's projection
      ``c . v`` is a zero-shuffle map with a fixed left-fold order;
    - the matrix-vector product ``y = sum_rows (c . v) * c`` is ONE
      partial-aggregated shuffle of <= dim groups: per row explode
      (pos, proj * c_pos), each term cast to DECIMAL(30,12) (a
      correctly-rounded, engine-identical cast) so the per-component
      sum is order-independent, then VARCHAR -> DOUBLE (the repo's
      exact-decimal emission route);
    - the driver only materializes dim-length vectors (the kmeans
      centroid pattern), normalizing in plain Python IEEE doubles
      (left-fold sum over pos order — the same fold the SQL oracle
      uses).

    The component mean (centering) uses the same exact-decimal route.
    v0 = 1/8 per component (exactly representable for dim 64), so the
    whole run is a pure function of the data and a DuckDB oracle
    replays all iterations as unrolled CTEs. Output:
    [pos, loading_ppm] — the unit direction in exact integer ppm.
    """
    import math

    spark = df.sparkSession
    v = F.col(vec_col).cast("array<double>")
    exploded = df.select(F.posexplode(v).alias("pos", "val"))
    mean_rows = (
        exploded.groupBy("pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(20,12)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )
    if not mean_rows:
        raise ValueError("pca_top_component: empty corpus")
    mean = [0.0] * len(mean_rows)
    for r in mean_rows:
        mean[int(r["pos"])] = float(r["m"])
    dim = len(mean)
    mean_lit = F.expr(_array_double_sql(mean))
    centered = F.zip_with(v, mean_lit, lambda x, m: x - m)
    cur = [1.0 / 8.0] * dim if dim == 64 else [1.0 / math.sqrt(dim)] * dim
    for _ in range(iterations):
        v_lit = F.expr(_array_double_sql(cur))
        proj = dot(centered, v_lit)
        # STAGE proj/centered below the explode (same fix as the k-means
        # update): as posexplode siblings they are re-evaluated once per
        # exploded row — dim x the fold work per document.
        staged = df.select(proj.alias("_p"), centered.alias("_c"))
        terms = staged.select(
            "_p", F.posexplode(F.col("_c")).alias("pos", "c")
        ).select("pos", (F.col("_p") * F.col("c")).alias("term"))
        y_rows = (
            terms.groupBy("pos")
            .agg(
                F.sum(F.col("term").cast("decimal(30,12)"))
                .cast("string")
                .cast("double")
                .alias("y")
            )
            .collect()
        )
        y = [0.0] * dim
        for r in y_rows:
            y[int(r["pos"])] = float(r["y"])
        acc = 0.0
        for x in y:
            acc = acc + x * x
        nrm = math.sqrt(acc) or 1.0
        cur = [x / nrm for x in y]
    out = [
        (j, int(math.floor(cur[j] * 1000000.0 + 0.5))) for j in range(dim)
    ]
    return spark.createDataFrame(out, "pos int, loading_ppm bigint")


def sparse_cosine_topk(
    df: DataFrame,
    key_col: str,
    bucket_col,
    value_col,
    anchor_key: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k keys most similar to an anchor key by cosine over SPARSE
    vectors — one component per (key, bucket), e.g. a user's activity
    time series bucketed by hour (the distributed shape of streaming
    time-series similarity search, cf. EDBT 2019's streaming TS-sim
    line of work; the dense-embedding ``cosine_topk`` above can't
    express this because the vectors never materialize).

    Scale design:
    - Vectors NEVER materialize as arrays. Components stay as rows; the
      dot product is an equi-join on ``bucket`` against the anchor's
      components — and the anchor side is one vector, so the join is a
      broadcast: zero shuffle beyond the two aggregations.
    - Component sums and squared norms accumulate in exact DECIMAL
      (milli-unit inputs): order-independent, bit-identical across
      partitionings and engines; the decimal->double conversion routes
      through VARCHAR (the repo's standard exactness idiom — see
      ``_component_avg``).
    - Result is TakeOrdered (cos desc, key asc): no global sort.

    ``anchor_key`` is a 1-row DataFrame with column ``key_col`` (derive
    it with an aggregation, never a driver-side collect).  The anchor
    itself is excluded from the ranking.  Emits (key, cos_sim) with
    cos_sim floor-rounded to 1e-6.
    """
    vm = F.floor(value_col * F.lit(1000.0) + F.lit(0.5)).cast(
        "decimal(18,0)"
    )
    comps = (
        df.select(
            F.col(key_col).alias("k_"),
            bucket_col.alias("b_"),
            vm.alias("vm"),
        )
        .groupBy("k_", "b_")
        .agg(F.sum("vm").cast("decimal(18,0)").alias("sv"))
    )
    anchor = F.broadcast(
        comps.join(
            F.broadcast(anchor_key.select(F.col(key_col).alias("k_"))),
            "k_",
        ).select(F.col("b_"), F.col("sv").alias("sa"))
    )
    sq = lambda c: (F.col(c) * F.col(c)).cast("decimal(38,0)")  # noqa: E731
    norms = comps.groupBy("k_").agg(
        F.sum(sq("sv")).cast("decimal(38,0)").alias("n2")
    )
    via_str = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    a_norm = F.broadcast(
        anchor.agg(F.sum(sq("sa")).cast("decimal(38,0)").alias("na2"))
    )
    dots = (
        comps.join(anchor, "b_")
        .groupBy("k_")
        .agg(
            F.sum((F.col("sv") * F.col("sa")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("dot")
        )
    )
    anchor_k = anchor_key.select(F.col(key_col).alias("ak"))
    cos = via_str("dot") / (
        F.sqrt(via_str("n2")) * F.sqrt(via_str("na2"))
    )
    ranked = (
        dots.join(norms, "k_")
        .crossJoin(a_norm)
        .join(F.broadcast(anchor_k), F.col("k_") == F.col("ak"), "left_anti")
        .select(
            F.col("k_").alias(key_col),
            (
                F.floor(cos * F.lit(1000000.0) + F.lit(0.5)).cast("double")
                / F.lit(1000000.0)
            ).alias("cos_sim"),
        )
    )
    return ranked.orderBy(F.desc("cos_sim"), key_col).limit(k)


def jl_distortion_pairs(
    emb: DataFrame,
    k: int = 16,
    dim: int = 64,
    pair_stride: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: project embeddings
    through a deterministic ±1 sign matrix (Achlioptas 2003, public
    paper — database-friendly random projections) down to ``k`` dims
    and report, for a strided sample of vector pairs (vec_id, vec_id+1),
    the ratio of projected to original squared distance.  E[ratio] = k
    for a ±1 matrix, so ratio_ppm/k near 1e6 certifies the projection
    preserves neighborhoods before a pipeline swaps full vectors for
    cheap sketches (the decision emb_truncation_recall makes for
    PREFIX truncation — this is the rotation-invariant alternative).

    Everything after the component quantization (micro-ints,
    floor(x*1e6+0.5) on the double cast both engines share) is exact
    integer arithmetic in DECIMAL(38,0)/HUGEINT; the emitted distances
    fit BIGINT while component magnitudes stay under ~3e3 (|x| <= 3e9
    micro would be needed to overflow) and a zero original distance
    yields NULL ratio on both engines (nullif guard).

    Scale shape: the sign matrix is k x dim = 1024 literal rows,
    broadcast; pairs join on (vec_a, pos) — an equi-join at sampled-
    pair x dim cardinality; two partial-combined aggregations.  Nothing
    touches unsampled vectors past the pushed ``vid % stride`` filters.
    """
    spark = emb.sparkSession
    xi = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "pos", "x"
        ),
    ).select(
        "vid",
        "pos",
        F.floor(F.col("x") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("xi"),
    )
    a = xi.filter(F.col("vid") % pair_stride == 0).select(
        F.col("vid").alias("vec_a"), "pos", F.col("xi").alias("xa")
    )
    b = xi.filter((F.col("vid") - 1) % pair_stride == 0).select(
        (F.col("vid") - 1).alias("vec_a"), "pos", F.col("xi").alias("xb")
    )
    d = a.join(b, ["vec_a", "pos"]).select(
        "vec_a", "pos", (F.col("xa") - F.col("xb")).alias("dx")
    )
    fdist = d.groupBy("vec_a").agg(
        F.sum(
            F.col("dx").cast("decimal(38,0)")
            * F.col("dx").cast("decimal(38,0)")
        ).alias("df")
    )
    signs = (
        spark.range(k * dim)
        .select(
            F.expr(f"id div {dim}").alias("j"),
            F.pmod(F.col("id"), F.lit(dim)).alias("dcol"),
        )
        .select(
            "j",
            "dcol",
            (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("j").cast("string"),
                                    F.lit(","),
                                    F.col("dcol").cast("string"),
                                )
                            ),
                            1,
                            1,
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    F.lit(2),
                )
                * 2
                - 1
            ).alias("sgn"),
        )
    )
    y = (
        d.join(F.broadcast(signs), d["pos"] == signs["dcol"])
        .groupBy("vec_a", "j")
        .agg(F.sum(F.col("sgn") * F.col("dx")).alias("yj"))
    )
    proj = y.groupBy("vec_a").agg(
        F.sum(
            F.col("yj").cast("decimal(38,0)")
            * F.col("yj").cast("decimal(38,0)")
        ).alias("dp")
    )
    return fdist.join(proj, "vec_a").select(
        "vec_a",
        (F.col("vec_a") + 1).alias("vec_b"),
        F.col("df").cast("bigint").alias("dist_full"),
        F.col("dp").cast("bigint").alias("dist_proj"),
        F.expr(
            f"CAST(dp * CAST(1000000 AS DECIMAL(38,0))"
            f" div nullif(CAST({k} AS DECIMAL(38,0)) * df,"
            f" CAST(0 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ratio_ppm"),
    )
