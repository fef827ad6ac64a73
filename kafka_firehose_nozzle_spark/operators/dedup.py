"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB):
- Signatures (minhash/simhash/fingerprint) are computed per-row with
  higher-order array functions — zero shuffle, fused into the scan.
- Candidate generation is banded LSH: an equi-join on (band_index,
  band_hash) buckets. Shuffle volume is O(num_bands * rows) small keys,
  AQE handles skewed buckets. No quadratic self-join ever runs on the
  full corpus; pairwise verification happens only within buckets.
- Exact dedup is a single hash aggregation on the 128-bit fingerprint.

Hashes derive from md5 so the DuckDB oracle can replicate results
bit-for-bit (both engines agree on md5 hex).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions.detmath import det_round
from kafka_firehose_nozzle_spark.operators.text import (
    ngram_strings,
    normalize_text,
    tokens,
)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text (array<string>).
    Built with the shifted-slice zip_with combine (text.ngram_strings) —
    never a slice inside a positions lambda, which re-tokenizes per
    position (O(tokens^2); see the round-4 bigram fix)."""
    toks = tokens(normalize_text(text))
    n = F.size(toks)
    return F.array_distinct(
        F.when(n >= k, ngram_strings(toks, k)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def _h(col: Column, seed: int) -> Column:
    """Deterministic 60-bit hash from md5 (replicable in DuckDB as
    ('0x' || substr(md5(x || '#<seed>'), 1, 15))::BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 15), 16, 10
    ).cast("long")


# shingle-combine base and affine-lane modulus (both engines: positive
# BIGINT arithmetic, products < 2^63 — DuckDB errors on overflow where
# Java would wrap, so the bounds are load-bearing)
_SHINGLE_P = 4093
_LANE_MOD = 2147483647  # 2^31 - 1 (prime)

# prefix_jaccard_pairs: broadcast the verification token-array table
# when its MEASURED size (exact post-collapse token count x 8 bytes +
# per-row overhead) fits comfortably in executor memory; else pin the
# verification joins to sort-merge (the corpus-growing case).
VERIFY_BROADCAST_CAP_BYTES = 128 << 20


def token_hash_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as 56-bit integers: one md5 per TOKEN
    (staged via the per-token transform), then each shingle position
    combines its k token hashes arithmetically —
    ``h1*P^2 + h2*P + h3`` (P = 4093).

    This replaces string shingles in the MinHash path because profiling
    at sf1 put shingle STRING construction (per-position concat_ws over
    interpreted HOFs) at ~85% of signature cost, after md5 itself was
    already amortized: a token participates in k shingles but is hashed
    once, and the combine is three integer multiply-adds. Max value
    2^32 * (P^2 + P + 1) < 2^57, so every product stays far inside
    BIGINT for both engines. Collisions merge distinct shingles at
    ~2^-56 per pair — irrelevant to MinHash and replicated exactly by
    the oracle either way. Documents shorter than k words combine what
    they have; empty docs yield [0].

    DuckDB replica of the token hash: ('0x' || substr(md5(t), 1, 8))::BIGINT.

    Only ``k == 3`` is supported: the combine is the unrolled 3-slice
    zip_with above and the short-doc branches special-case n == 2 / n == 1,
    so other k would silently produce 3-token shingles with a wrong window
    count.  Raises rather than guessing.
    """
    if k != 3:
        raise ValueError(
            f"token_hash_shingles supports only k=3 (got k={k}): the "
            "shifted-slice combine and short-document branches are "
            "specialized to 3-token windows"
        )
    toks = tokens(normalize_text(text))
    th = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    n = F.size(toks)
    p, p2 = F.lit(_SHINGLE_P), F.lit(_SHINGLE_P * _SHINGLE_P)

    # Combine via three shifted slices + zip_with, NOT element_at inside
    # a positions transform: interpreted HOFs re-evaluate their array
    # argument per call, so an indexed lambda would rebuild the full
    # md5 array once per position — O(tokens^2) hashing (measured 4x
    # end-to-end). zip_with evaluates each slice argument once.
    m = n - (k - 1)
    combined = F.zip_with(
        F.zip_with(
            F.slice(th, 1, m),
            F.slice(th, 2, m),
            lambda x, y: x * p2 + y * p,
        ),
        F.slice(th, 3, m),
        lambda xy, z: xy + z,
    )

    def at(i):
        return F.element_at(th, i)

    return F.array_distinct(
        F.when(n >= k, combined)
        .when(n == 2, F.array(at(1) * p + at(2)))
        .when(n == 1, F.array(at(1)))
        .otherwise(F.array(F.lit(0).cast("long")))
    )


def minhash_from_hashed(hashed: Column, num_hashes: int = 8) -> Column:
    """array<long> signature over integer shingle hashes: lane j is the
    min over shingles of the affine hash ``(a_j * s + b_j) mod (2^31-1)``
    with a_j = 2j+3, b_j = 97j+1 — pure integer ops, no md5 anywhere in
    the per-shingle path (a_j * s < 2^5 * 2^57 = 2^62: no overflow).

    Pass a *staged column* (with_minhash): the lanes are interpreted
    HOFs without codegen CSE, so an inlined shingle expression would be
    rebuilt once per lane."""

    # NB: Spark reads the lambda's arity, so constants must bind via a
    # closure factory, not default args (a 3-arg lambda means
    # (element, index, ...) to F.transform)
    def lane_fn(a: int, b: int):
        return lambda s: F.pmod(F.lit(a) * s + F.lit(b), F.lit(_LANE_MOD))

    return F.array(
        *[
            F.array_min(F.transform(hashed, lane_fn(2 * j + 3, 97 * j + 1)))
            for j in range(num_hashes)
        ]
    )


def minhash_bands(sig: Column, num_bands: int = 4, rows_per_band: int = 2) -> Column:
    """LSH band hashes: array<string> of md5(band slice). Two documents
    agree on a band iff that band's signature rows all match."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(sig, b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(num_bands)
        ]
    )


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
) -> DataFrame:
    # Stage each non-cheap array through its own projection: CollapseProject
    # keeps multiply-referenced non-cheap expressions staged, so the
    # hashed shingles are built once per row, not once per lane (and the
    # signature once, not once per band).
    return (
        df.withColumn("_hsh", token_hash_shingles(F.col(text_col)))
        .withColumn(
            "minhash_sig",
            minhash_from_hashed(F.col("_hsh"), num_hashes),
        )
        .withColumn(
            "lsh_bands",
            minhash_bands(
                F.col("minhash_sig"), num_bands, num_hashes // num_bands
            ),
        )
        .drop("_hsh")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from banded MinHash.

    Shuffles only (band_index, band_hash, id) — tiny rows — then
    equi-joins within buckets. Distinct pair set, deduped across bands.

    ``max_bucket`` is the 100 TB safety valve for the pairwise
    consumers (Jaccard verification, recall/contamination audits) that
    genuinely need every within-bucket pair: emission is O(c²) per
    bucket, and web-scale corpora contain boilerplate cliques whose
    buckets reach thousands of members (measured: 2,600 at sf10 →
    ~498 M pairs). With a cap, buckets larger than ``max_bucket`` are
    dropped before the self-join — the standard stop-shingle treatment:
    a bucket shared by thousands of documents carries no pairwise
    signal worth scoring, the same way a stopword carries no retrieval
    signal. Default None preserves exact all-pairs semantics (the
    registry oracles pin that); connected-components consumers should
    use :func:`lsh_component_edges` instead, which needs no cap.
    """
    # posexplode_outer, deliberately: inner posexplode adds an implicit
    # size(arr) > 0 filter, and predicate pushdown substitutes the FULL
    # bands∘minhash∘shingles expression into that filter below the scan —
    # every row then evaluates the whole pipeline twice (measured 10x+ on
    # the LSH bench). Bands are a fixed-length array literal, never empty,
    # so outer semantics are identical and no filter is generated.
    banded = (
        with_minhash(df, text_col, num_hashes, num_bands)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode_outer("lsh_bands").alias("band_ix", "band_hash"),
        )
        # materialize once: the self-join would otherwise evaluate the
        # whole signature pipeline independently on each side. The stored
        # rows are 3 small columns x num_bands per doc — far cheaper than
        # a second pass over the corpus text.
        .localCheckpoint(eager=False)
    )
    if max_bucket is not None:
        from kafka_firehose_nozzle_spark.operators.skew import cap_group_size

        banded = cap_group_size(banded, ["band_ix", "band_hash"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_ix") == F.col("b.band_ix"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_component_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    num_bands: int = 4,
    dedup_edges: bool = True,
) -> DataFrame:
    """Bucket-STAR edges for connected components: one (bucket_min_id,
    member_id) edge per non-minimal bucket member, instead of
    lsh_candidate_pairs' all-pairs-within-bucket clique.

    Same components, quadratically fewer edges.  "Same LSH bucket" is
    an equivalence clue that candidate-pair consumers must score
    pairwise (jaccard_verify_pairs needs every pair), but connectivity
    only needs a SPANNING structure per bucket — a star through the
    bucket minimum reaches exactly the members the clique reaches, so
    dup_components' fixed point is identical on either edge set.

    This is the 100 TB-critical choice: giant buckets are a FACT of web
    corpora (boilerplate/license cliques), and all-pairs emission is
    O(c²) per bucket — measured at sf10, the planted corpus's max
    bucket hits 2,600 docs and the clique edge list ~498 M rows (OOM in
    the downstream hook aggregation at 16 g local heap), while the star
    list stays at one row per banded doc (~4 M).  Per decade of data,
    clique edges grow 100x, star edges 10x.

    Plan shape: one shuffle of the tiny (band_ix, band_hash, id) rows
    into bucket groups, a sort-based window min per bucket (spills,
    never materializes a bucket in memory), then a filter — no
    self-join, no quadratic emission anywhere.
    """
    from pyspark.sql import Window

    banded = (
        with_minhash(df, text_col, num_hashes, num_bands)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode_outer("lsh_bands").alias("band_ix", "band_hash"),
        )
        # lsh_candidate_pairs' equi-join drops null band keys implicitly;
        # a window partition would instead pool ALL null-band rows into
        # one partition and star-link them into a bogus component. Today
        # token_hash_shingles never yields an empty band array, but the
        # clique/star components-equivalence must hold by construction,
        # not via that distant invariant (ADVICE r7).
        .filter(F.col("band_hash").isNotNull())
    )
    w = Window.partitionBy("band_ix", "band_hash")
    edges = (
        banded.withColumn("id_a", F.min("id").over(w))
        .filter(F.col("id_a") != F.col("id"))
        .select("id_a", F.col("id").alias("id_b"))
    )
    # ``dedup_edges=False`` skips the trailing ``.distinct()`` — a full
    # shuffle of the edge set whose only effect is collapsing the <=
    # num_bands copies of a star edge that fires in several bands.
    # Connected-components consumers (dup_components) are insensitive to
    # edge multiplicity (the fixed point is identical; its own first
    # label aggregation absorbs the copies), so they pass False and
    # save the exchange: r11 idle A/B at sf0.1, full planted chain
    # 2.11 -> 1.95 s with outputs equal. Anything that EXPOSES the edge
    # list (or counts edges) must keep the default.
    return edges.distinct() if dedup_edges else edges


def jaccard_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs only (never the full
    cross product). Joins shingle arrays in, verifies with array
    intersect/union — per-pair compute, no further shuffle after the two
    broadcast-able joins."""
    sh = docs.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col)).alias("sh")
    )
    return (
        pairs.join(sh.withColumnRenamed("sh", "sh_a"), pairs.id_a == sh.id)
        .drop("id")
        .join(
            sh.withColumnRenamed("sh", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", det_round(F.col("jaccard"), 6).alias("jaccard"))
    )


def token_hashes(text: Column) -> Column:
    """md5-derived 60-bit hash per distinct token (array<long>) — the
    shared input for simhash bits. Materialize this once (withColumn)
    before deriving bits so the hash array isn't recomputed per bit."""
    return F.transform(
        F.array_distinct(tokens(normalize_text(text))), lambda t: _h(t, 0)
    )


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash over a precomputed token-hash array: bit i is the majority
    vote of the tokens' i-th hash bits. Deterministic across engines
    (DuckDB: same md5-derived hashes, same bit tests).

    ``bits`` defaults to 16 — enough for near-dup bucketing tests while
    keeping the expression tree (one array scan per bit) shallow.
    """
    n = F.size(hashes)

    def bit_test(mask: int):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    acc = F.lit(0).cast("long")
    for i in range(bits):
        ones = F.size(F.filter(hashes, bit_test(1 << i)))
        acc = acc + F.when(ones * 2 > n, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return acc


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    bits: int = 16,
) -> DataFrame:
    """Add a SimHash column with the token-hash array staged once.

    Same CollapseProject reasoning as :func:`with_minhash`: the
    normalize+tokenize+distinct+md5 array is non-cheap and referenced by
    every per-bit majority vote, so materializing it in its own
    projection keeps it single-evaluation per row.
    """
    return (
        df.withColumn("_token_hashes", token_hashes(F.col(text_col)))
        .withColumn(out_col, simhash_from_hashes(F.col("_token_hashes"), bits))
        .drop("_token_hashes")
    )


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-duplicate groups by md5 fingerprint of normalized text.
    One hash aggregation; partial aggregation (map-side combine) makes
    this scan-bound at scale."""
    from kafka_firehose_nozzle_spark.operators.text import fingerprint

    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("id")
        )
        .groupBy("fp")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _double_literal_sql(x: float) -> str:
    """Shortest round-trip decimal + ``D`` suffix: parses (via Java's
    correctly-rounded ``Double.parseDouble``) to the identical binary64
    that ``F.lit(x)`` would pass by value."""
    if not math.isfinite(x):
        raise ValueError(f"non-finite plane component {x!r}")
    return repr(float(x)) + "D"


def _sign_bits_expr(vec_col: str, planes: list) -> Column:
    """Banded sign-LSH bit word over ``planes`` as ONE parsed SQL
    expression — value-identical to the Column-API chain
    ``sum_j when(dot(v, plane_j) >= 0, 2^j).otherwise(0)`` but built in
    a single py4j round trip instead of ~dim * k of them (driver plan
    construction was the dominant per-query cost for the LSH pair
    operators at sf0.1: ~2 s/build, guide §7.3)."""
    terms = []
    for j, p in enumerate(planes):
        arr = "array(" + ",".join(_double_literal_sql(x) for x in p) + ")"
        d = (
            f"aggregate(zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {arr}, "
            "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"CAST(CASE WHEN {d} >= 0 THEN {2 ** j} ELSE 0 END AS BIGINT)"
        )
    return F.expr(" + ".join(terms))


def embedding_lsh_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int = 2,
    planes_per_band: int | None = None,
    threshold: float = 0.99,
    n: int | None = None,
    impl: str = "expr",
) -> DataFrame:
    """Embedding near-dup pairs with a SCALE-BOUNDED blocking key:
    banded sign-LSH (random-hyperplane) buckets instead of a fixed
    category column.

    ``impl="expr"`` (default) scores each candidate pair with the
    JVM-side fold cosine — bit-replayable by the SQL oracle; the
    registry queries stay here. ``impl="gemm"`` is the measured scale
    path for bulk all-pairs scoring: vectors are grouped by
    (band, bucket) and each bucket's pairwise similarities come from
    ONE NumPy gram-matrix product inside applyInPandas — embeddings
    cross the Arrow boundary once per band (O(n * dim)), not once per
    pair (O(pairs * dim)), and the per-pair interpreted fold (the
    dominant cost at sf1) disappears. GEMM pairwise summation differs
    from the left fold in the last ulp, so the gemm path is equivalence-
    tested against expr (same pair set, sims equal at the emitted
    rounding) rather than oracle-replayed.

    Each vector's bucket in band b is the k sign bits of its dot products
    against k fixed plane vectors (the first ``num_bands * k`` corpus
    vectors — deterministic and replayable in plain SQL, unlike RNG
    planes). k defaults to ``max(4, ceil(log2(n / 100)))`` so the number
    of buckets GROWS with the corpus and expected bucket size stays ~100:
    the per-block quadratic is O(n * 100) total, not O((n/labels)^2) —
    the fix for the one scale-killer the r2 bench audit found. Candidate
    pairs are the union over bands of intra-bucket pairs (OR-of-bands
    boosts recall exactly like MinHash banding); a ``distinct`` collapses
    pairs caught by both bands.

    Plan shape: bucket assignment is a pure map (plane literals ride into
    the plan; no shuffle, no crossJoin); the only shuffles are the
    (band, bucket) equi-join and the final distinct.

    ``n`` (approximate corpus size, used only to size k) should be passed
    by callers that know it — e.g. from parquet footer metadata, a
    catalog, or the ingest manifest; sizing is log-scale so even a 2x
    stale estimate lands on the same k or one off.  Only when both
    ``planes_per_band`` and ``n`` are absent does the operator fall back
    to a ``df.count()``, which costs one extra full pass over the corpus.
    """
    import math

    from kafka_firehose_nozzle_spark.operators.similarity import (
        cosine_prenormed,
        l2_norm,
    )

    if planes_per_band is None and n is None:
        n = df.count()
    k = planes_per_band or max(4, math.ceil(math.log2(n / 100.0)))
    num_planes = num_bands * k
    plane_rows = (
        df.filter(F.col(id_col) < num_planes)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    planes = {int(r[id_col]): [float(x) for x in r["v"]] for r in plane_rows}
    if len(planes) < num_planes:
        raise ValueError(
            f"need contiguous ids 0..{num_planes - 1} for LSH planes, "
            f"got {len(planes)}"
        )
    v = F.col(vec_col).cast("array<double>")
    # Each band's sign-bit word is built as ONE parsed SQL expression
    # instead of a Python loop of F.lit/F.when/zip_with/aggregate calls:
    # the per-object py4j construction was ~2 s per query build at k=5
    # (measured r11 — every F.lit and every lambda conversion is a JVM
    # round trip), vs ~4 ms for a single parse. The parsed tree is
    # bit-identical: `<repr(x)>D` literals parse (Double.parseDouble,
    # correctly rounded) to the exact binary64 F.lit passed by value,
    # and aggregate(zip_with(...), 0.0D, +) is the same left-fold
    # ArrayAggregate node `dot` builds — pinned by
    # tests/test_operators.py::test_sign_bits_expr_matches_column_form.
    buckets = [
        _sign_bits_expr(vec_col, [planes[b * k + j] for j in range(k)])
        for b in range(num_bands)
    ]
    # bucket table WITHOUT vectors: the self-join shuffles only
    # (id, band, bucket) triples, never the embedding payload.
    # Materialized once — both sides reuse it and the num_planes
    # interpreted-fold dot products per row run a single time.
    bk = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.array(*buckets)).alias("band", "bucket")
    ).localCheckpoint(eager=False)
    if impl == "gemm":
        return _lsh_pairs_gemm(df, bk, id_col, vec_col, threshold)
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r} (want 'expr' or 'gemm')")
    a, b2 = bk.alias("a"), bk.alias("b")
    # dedup candidates BEFORE computing any cosine: a pair caught by
    # both bands costs one similarity evaluation, not two + a distinct
    # over full result rows (this is also exactly the oracle's shape)
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # fetch vectors once per distinct pair; per-row norm hoisted so each
    # row's norm is computed once, not once per pair
    vecs = (
        df.select(F.col(id_col).alias("id"), v.alias("v"))
        .withColumn("nrm", l2_norm(F.col("v")))
        .localCheckpoint(eager=False)
    )
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("_va"), F.col("nrm").alias("_na")
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("_vb"), F.col("nrm").alias("_nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            det_round(
                cosine_prenormed(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _lsh_pairs_gemm(
    df: DataFrame,
    bk: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Bucket-batched GEMM scoring for embedding_lsh_dup_pairs
    (impl="gemm"): one shuffle co-locates each (band, bucket) group's
    vectors, then a single M @ M.T per group yields every intra-bucket
    pairwise cosine. Cross-band duplicate pairs collapse via a max-agg
    (their sims can differ only in the emitted rounding's last ulp).
    Bucket sizes are bounded ~100 by the plane sizing, so per-group
    matrices stay tiny; skewed buckets are split by AQE upstream of the
    group shuffle."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cos_sim": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cos_sim": "float64"})
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        nrm = np.sqrt((m * m).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        g = (m @ m.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        sims = np.floor(g[iu, ju] * 1e6 + 0.5) / 1e6
        ia, ib = ids[iu], ids[ju]
        swap = ia > ib
        ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
        keep = sims >= thr
        return pd.DataFrame(
            {"id_a": ia[keep], "id_b": ib[keep], "cos_sim": sims[keep]}
        )

    withv = bk.join(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        "id",
    )
    out = withv.groupBy("band", "bucket").applyInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )
    return out.groupBy("id_a", "id_b").agg(F.max("cos_sim").alias("cos_sim"))


def dup_components(
    pairs: DataFrame,
    max_iterations: int = 15,
    driver_tail_edges: int = 100_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets
    the minimum doc id of its duplicate cluster as ``component_id``.

    STAR CONTRACTION (r2 advice: plain min-label propagation joined the
    full, never-shrinking edge set every round — ~constant cost x
    O(diameter) rounds). Each round:

    1. hook: every supernode takes min(self, neighbors) as its new label
       (one aggregation over the current edge list);
    2. compose: the original-id -> supernode mapping follows the hook;
    3. contract: edges are relabeled to supernode endpoints, self-loops
       dropped, duplicates collapsed.

    Near-dup clusters are clique-ish, so round 1 collapses almost
    everything and the surviving edge list shrinks geometrically —
    later rounds run on a graph orders of magnitude smaller (min-
    neighbor hooking can fragment a path, e.g. ids 1-3-5-2-4, which is
    exactly what the next round's contracted graph repairs). Supernode
    ids are by construction the min original id of their merged set, so
    the fixed point labels every node with its component minimum.

    At 100 TB: round 1 is the only full-size pass (one aggregation +
    two relabel joins over the edges); every later round touches only
    the un-contracted residue. The driver reads one count scalar per
    round, never data — EXCEPT the hybrid tail: once the contracted
    edge set falls to ``driver_tail_edges`` or fewer rows (two int64s
    each — ~1.6 MB at the default cap, an explicit, documented bound),
    the residue collects and finishes as driver union-find in one
    pass.  Geometric shrink makes this the common exit after round 1
    (measured: 1.68 M edges -> 208 after one round at sf1), replacing
    2-3 more driver-coordinated rounds of tiny jobs with one compose
    join.  The label result is identical: union-find tracks each
    component's minimum, the same fixed point the loop converges to.
    """
    # Materialize the (possibly expensive) pair pipeline ONCE: dedup at
    # the pair level (half the rows of the doubled edge list; inputs
    # from lsh_candidate_pairs etc. are already distinct, making this a
    # cheap no-op shuffle) and cut lineage so the loop never re-runs the
    # upstream LSH/similarity plan.
    pairs = pairs.select("id_a", "id_b").distinct().localCheckpoint(eager=False)
    cur = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    mapping = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b")))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    spark = pairs.sparkSession
    first_round = True
    for _ in range(max_iterations):
        # ONE job answers both branch questions (r11, guide §5 "the
        # driver should do almost no data work" — but COUNTING is data
        # work too: the old count()+collect() pair ran two jobs in the
        # common tail exit). limit(tail+1) proves either "residue fits
        # the tail" (and then head IS the full residue) or "still big"
        # without ever pulling more than tail+1 two-int64 rows.
        head = cur.limit(driver_tail_edges + 1).collect()
        if not head:
            break
        if len(head) <= driver_tail_edges:
            # hybrid tail: bounded residue -> one driver union-find pass
            parent: dict = {}

            def find(x: int) -> int:
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                a, b = find(row["src"]), find(row["dst"])
                if a != b:
                    # min id becomes the root so roots ARE component minima
                    lo, hi = (a, b) if a < b else (b, a)
                    parent[hi] = lo
            if first_round:
                # Tail fired before any contraction, so mapping is still
                # the identity over the edge endpoints — all of which are
                # IN `head`. Build the complete (id, label) result right
                # here instead of executing mapping's union+distinct
                # shuffle plus a broadcast join whose only job is to
                # re-derive the same labels (r11: this was ~0.5 s of
                # fixed overhead per components query at sf0.1). Driver
                # bound: <= 2 * driver_tail_edges labels (~3.2 MB at the
                # default cap) — same order as the residue just
                # collected, and documented above.
                nodes = sorted(
                    {int(r["src"]) for r in head}
                    | {int(r["dst"]) for r in head}
                )
                mapping = spark.createDataFrame(
                    [(x, find(x)) for x in nodes], "id long, label long"
                )
                break
            roots = [(x, find(x)) for x in list(parent)]
            if roots:
                l2 = spark.createDataFrame(roots, "id long, new long")
                mapping = (
                    mapping.alias("m")
                    .join(
                        F.broadcast(l2).alias("h"),
                        F.col("m.label") == F.col("h.id"),
                        "left",
                    )
                    .select(
                        F.col("m.id").alias("id"),
                        F.coalesce(F.col("h.new"), F.col("m.label")).alias(
                            "label"
                        ),
                    )
                )
            break
        # hook: per supernode, min over itself and all neighbors
        l = (
            cur.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
            .union(cur.select(F.col("dst"), F.col("src")))
            .groupBy("id")
            .agg(F.min("nbr").alias("_mn"))
            .select("id", F.least(F.col("id"), F.col("_mn")).alias("new"))
            .localCheckpoint(eager=True)  # read 3x below (compose + 2 relabels)
        )
        # compose into the original-id mapping (left join: supernodes
        # whose edges were already contracted away keep their label)
        mapping = (
            mapping.alias("m")
            .join(l.alias("h"), F.col("m.label") == F.col("h.id"), "left")
            .select(
                F.col("m.id").alias("id"),
                F.coalesce(F.col("h.new"), F.col("m.label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # contract: relabel endpoints, drop self-loops, normalize + dedup
        la = l.select(F.col("id").alias("src"), F.col("new").alias("_ns"))
        lb = l.select(F.col("id").alias("dst"), F.col("new").alias("_nd"))
        cur = (
            cur.join(la, "src")
            .join(lb, "dst")
            .filter(F.col("_ns") != F.col("_nd"))
            .select(
                F.least(F.col("_ns"), F.col("_nd")).alias("src"),
                F.greatest(F.col("_ns"), F.col("_nd")).alias("dst"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        first_round = False
    return mapping.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )


def simhash_hamming_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """(hamming, n_pairs) histogram over ALL doc pairs at Hamming
    distance <= max_hamming, for consumers that only need COUNTS of
    SimHash near-duplicate pairs, not the pairs.

    The r7 sf10 audit lesson: on a low-entropy corpus the qualifying
    pair SET is itself quadratic (~40% of all pairs at sf0.01; ~2e11
    pairs at sf10), so any pair-enumerating plan is doomed no matter
    how it blocks. But the count per Hamming value is computable from
    the fingerprint VALUE histogram alone: two docs are at distance h
    iff their values xor to a popcount-h mask, so

      n_pairs(0) = Σ_v C(c_v, 2)
      n_pairs(h) = Σ_{pc(m)=h} Σ_{v < v⊕m} c_v · c_{v⊕m}

    over the <= 2^bits histogram rows — one corpus scan for the
    histogram, then pure value-space arithmetic (2^bits × Σ C(bits,k)
    explode, two tiny joins). Corpus-size-independent beyond the scan.
    """
    from itertools import combinations

    sh = with_simhash(df, text_col, "sh", bits).select(
        F.col(id_col).alias("id"), "sh"
    )
    counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("c"))
    h0 = counts.agg(
        F.sum(F.expr("c * (c - 1) DIV 2")).alias("n_pairs")
    ).select(F.lit(0).alias("hamming"), "n_pairs")
    masks = [
        sum(1 << p for p in combo)
        for k in range(1, max_hamming + 1)
        for combo in combinations(range(bits), k)
    ]
    hk = (
        counts.select(
            "sh",
            "c",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("m"),
        )
        .withColumn("sh2", F.col("sh").bitwiseXOR(F.col("m")))
        # v < v⊕m counts each unordered value pair exactly once (their
        # xor IS m, so no pair appears under two masks)
        .filter(F.col("sh") < F.col("sh2"))
        .join(
            F.broadcast(
                counts.select(
                    F.col("sh").alias("sh2"), F.col("c").alias("c2")
                )
            ),
            "sh2",
        )
        .groupBy(F.bit_count("m").alias("hamming"))
        .agg(F.sum(F.col("c") * F.col("c2")).alias("n_pairs"))
    )
    return h0.unionByName(hk).filter(
        F.col("n_pairs").isNotNull() & (F.col("n_pairs") > 0)
    )


def char_ngram_set(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the normalized text — the set
    representation for exact similarity joins.  The element universe
    must be SELECTIVE for prefix filtering to work: word tokens on the
    low-entropy synthetic corpus made ~75% of ALL doc pairs candidates
    (9.5M of 12.5M at sf0.1), and even trigrams left ~1000-doc buckets
    (every one of the ~27^3 trigrams is common).  k=5 pushes the
    universe to 27^5 so only genuinely shared text co-buckets — the
    same reasoning that makes production near-dup pipelines shingle at
    5 chars / 3+ words.  Shifted-slice zip_with build, never
    per-position substring re-evaluation."""
    from kafka_firehose_nozzle_spark.operators.text import normalize_text

    chars = F.split(normalize_text(text), "")
    m = F.size(chars) - (k - 1)
    grams = F.slice(chars, 1, m)
    for j in range(1, k):
        grams = F.zip_with(
            grams, F.slice(chars, j + 1, m), lambda a, b: F.concat(a, b)
        )
    return F.when(m >= 1, F.array_distinct(grams)).otherwise(
        F.array(F.lit(""))
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 60,
    unit: str = "char5",
    candidate_budget: int | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering (the PPJoin
    family) — the deterministic counterpart to MinHash-LSH: no false
    negatives, every emitted pair verified.

    Prefix filter: order each doc's distinct tokens rarest-first
    (document frequency, token tiebreak).  Two docs with Jaccard >= t
    MUST share a token inside each one's first n - ceil(t*n) + 1
    tokens, so candidates come from an equi-join on prefix tokens only
    — and because prefixes hold the RAREST tokens, join buckets stay
    small (a stopword never lands in a prefix).  All threshold math is
    integer (ceil(3n/5) = (3n+4) div 5 for t=0.6; the final test is
    inter*100 >= union*threshold_pct), so the oracle replays exactly.

    Two further PPJoin filters keep the candidate join from exploding
    (without them, sf1 measured minutes: a 0.6 threshold puts ~40% of
    every doc in its prefix, and moderately-rare tokens build big
    buckets):
    - length filter: 100 * min(n_a, n_b) >= t * max(n_a, n_b) in the
      join condition (a Jaccard >= t pair can't differ much in size);
    - positional filter: a shared prefix token at (1-based) positions
      p_a/p_b can only witness a qualifying pair if the remaining
      suffixes could still reach the required overlap
      alpha = ceil(t * (n_a + n_b) / (100 + t)):
      min(n_a - p_a, n_b - p_b) + 1 >= alpha.  Applied per matching
      occurrence BEFORE the pair-distinct, so the earliest (most
      permissive) occurrence decides — a superset of PPJoin's
      candidate set, hence still zero false negatives (and the exact
      verification removes false positives).

    EXACT-DUPLICATE COLLAPSE (always on): docs are first grouped by
    md5(text); the pairwise machinery runs only on one representative
    (min id) per distinct text, and the result is expanded
    arithmetically — identical-text pairs are Jaccard 1 by definition
    (every pair inside a group qualifies at any threshold, jac_ppm =
    10^6), and a cross-group pair (a, b) has exactly its
    representatives' jaccard.  Real corpora carry 20-50%% exact
    duplicates, and replicated/boilerplate corpora are far worse: at
    sf1 the collapse shrinks the corpus 10x and the SATURATED-VOCABULARY
    candidate join 100x — the uncollapsed run spilled 49 GB and was
    still going at 20 minutes; collapsed it completes in seconds.
    Cost when there are no duplicates: one (md5, id) aggregation and
    one id-keyed semi-join pass — noise next to the candidate join.

    Scale shape: one text-hash collapse, one df-count agg
    (token-cardinality shuffle), one sort-per-doc, candidate equi-join
    on (rare) prefix tokens with the filters above, exact verification
    only on representative candidates, two small expansion joins.
    Returns [id_a, id_b, jac_ppm] with jac_ppm = (inter * 10^6) div
    union.
    """
    from kafka_firehose_nozzle_spark.operators.text import normalize_text, tokens

    if unit.startswith("char"):
        elems = char_ngram_set(F.col(text_col), int(unit[4:]))
    elif unit == "token":
        elems = F.array_distinct(tokens(normalize_text(F.col(text_col))))
    else:
        raise ValueError(f"unknown unit {unit!r} (want 'charK' or 'token')")
    # ---- exact-dup collapse: one representative doc per distinct text
    groups = (
        df.groupBy(F.md5(F.col(text_col)).alias("_tk"))
        .agg(F.min(id_col).alias("rep"))
    )
    mem = df.select(
        F.md5(F.col(text_col)).alias("_tk"), F.col(id_col).alias("m")
    ).join(groups, "_tk").select("rep", "m")
    df = df.join(
        groups.select(F.col("rep").alias(id_col)), id_col, "left_semi"
    )
    # Fan the representative set before the dense tokenize: building +
    # md5-hashing ~|text| char-grams per doc is the operator's heavy
    # map, and on a single-split local scan (the broadcast semi-join
    # preserves the input's one partition) it otherwise runs in ONE
    # task (r11 thread-dump finding — same class as the BPE loop).
    # One corpus-bytes exchange; output values are partitioning-
    # independent. r11 A/B at sf0.1: 215 s -> 56 s end-to-end
    # (with the gated-broadcast verification below).
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # set elements become 60-bit md5 hashes immediately: the exact
    # verification intersects ~|set|-element arrays once per candidate
    # pair, and long-array intersects are several times cheaper than
    # string intersects (measured 31 s -> single digits on 1.5M
    # candidates).  Collisions merge elements at ~2^-60 per pair —
    # identical in both engines, so exactness-of-replay is unaffected.
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(elems).alias("tok0"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok0")), 1, 15), 16, 10)
        .cast("long")
        .alias("tok"),
    )
    dfc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df_"))
    ordered = (
        toks.join(dfc, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df_", "tok"))).alias("st")
        )
        .select(
            "doc_id",
            F.transform(F.col("st"), lambda x: x.getField("tok")).alias("ts"),
        )
        .withColumn("n", F.size("ts"))
        .localCheckpoint()
    )
    t = threshold_pct
    # prefix_len = n - ceil(t*n/100) + 1, all integer
    plen = F.col("n") - F.expr(f"({t} * n + 99) div 100") + F.lit(1)
    prefixes = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice(F.col("ts"), 1, plen)).alias("p0", "tok"),
    ).select("doc_id", "n", (F.col("p0") + 1).alias("pos"), "tok")
    if candidate_budget is not None:
        # Saturated-vocabulary guardrail (opt-in): the candidate join
        # emits sum over prefix tokens of C(bucket, 2) rows before any
        # per-pair filter can apply.  On a low-entropy corpus that sum
        # is near-all-pairs regardless of the true match count (the
        # sf1 fixture: 1.6e9 candidate slots for ~250k true pairs —
        # 90 GB of shuffle before dying), and NO exact prefix-family
        # algorithm avoids it: every doc genuinely shares prefix grams
        # with every other.  A 100 TB job should refuse with a
        # diagnosis in seconds, not grind a cluster for hours first —
        # the cost here is one aggregation over the prefix index.
        est = (
            prefixes.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.expr("c * (c - 1) div 2")).alias("slots"),
                F.count(F.lit(1)).alias("vocab"),
            )
            .head()
        )
        slots = est["slots"] or 0
        if slots > candidate_budget:
            raise ValueError(
                f"prefix_jaccard_pairs: saturated vocabulary — the "
                f"prefix index ({est['vocab']} distinct tokens) implies "
                f"{slots:,} candidate slots (> budget "
                f"{candidate_budget:,}). Exact all-pairs similarity is "
                f"near-quadratic on low-entropy corpora (see SCALE.md); "
                f"use the MinHash-LSH path (lsh_candidate_pairs -> "
                f"jaccard_verify_pairs) and accept its false-negative "
                f"rate, or raise candidate_budget deliberately."
            )
    na, nb = F.col("A.n"), F.col("B.n")
    alpha = F.expr(f"({t} * (A.n + B.n) + {100 + t} - 1) div {100 + t}")
    cand = (
        prefixes.alias("A")
        .join(
            prefixes.alias("B"),
            (F.col("A.tok") == F.col("B.tok"))
            & (F.col("A.doc_id") < F.col("B.doc_id"))
            & (F.least(na, nb) * 100 >= F.greatest(na, nb) * F.lit(t)),
        )
        .filter(
            F.least(na - F.col("A.pos"), nb - F.col("B.pos")) + 1 >= alpha
        )
        .select(
            F.col("A.doc_id").alias("id_a"), F.col("B.doc_id").alias("id_b")
        )
        .distinct()
    )
    a = ordered.select(
        F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a")
    )
    b = ordered.select(
        F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b")
    )
    inter = F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
    union = (
        F.size(F.col("ts_a")) + F.size(F.col("ts_b")) - inter
    )
    # Verification join strategy, gated on the MEASURED array-table
    # size (r11). The SMJ pin existed because AQE's (wrong) estimate
    # once broadcast a corpus-growing side and OOM'd the r7 sf10 audit
    # — but an unconditional SMJ makes the first join's OUTPUT carry
    # ts_a on every candidate row INTO the second join's shuffle
    # (candidates x ~|set| longs: ~30 GB at sf0.1's 4.6M candidates —
    # the dominant cost of the whole operator, 215 s end-to-end).
    # `ordered` is an eager localCheckpoint, so its exact token count
    # is one cheap agg away; when the real bytes fit comfortably in an
    # executor (guide §3.1: a few hundred MB is fine) we broadcast
    # BOTH sides and verification becomes a pure map over the pair
    # list — no array ever shuffles. Past the cap (the r7 sf10 case)
    # the SMJ pin stands. Measured bytes, not AQE estimates, so the
    # r7 failure mode cannot recur.
    st = ordered.agg(
        F.count(F.lit(1)).alias("d"), F.sum("n").alias("tk")
    ).head()
    est_bytes = int(st["tk"] or 0) * 8 + int(st["d"] or 0) * 48
    if est_bytes <= VERIFY_BROADCAST_CAP_BYTES:
        a, b = F.broadcast(a), F.broadcast(b)
    else:
        a, b = a.hint("merge"), b.hint("merge")
    rep_pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_i", inter)
        .withColumn("_u", union)
        .filter(F.col("_i") * 100 >= F.col("_u") * F.lit(t))
        .select(
            "id_a",
            "id_b",
            F.expr("(_i * 1000000L) div _u").alias("jac_ppm"),
        )
    )
    # ---- expand back across the identical-text groups.  A cross pair
    # inherits its representatives' jaccard (identical sets); members
    # interleave arbitrarily, so re-order with least/greatest.  An
    # intra-group pair is jaccard 1 by definition (token sets are never
    # empty: short/empty texts contribute a single sentinel gram).  The
    # two legs are disjoint (different groups vs same group), so a
    # plain union needs no dedup.
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("id_a"), F.col("m").alias("ma")),
            "id_a",
        )
        .join(
            mem.select(F.col("rep").alias("id_b"), F.col("m").alias("mb")),
            "id_b",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jac_ppm",
        )
    )
    intra = (
        mem.alias("X")
        .join(
            mem.alias("Y"),
            (F.col("X.rep") == F.col("Y.rep")) & (F.col("X.m") < F.col("Y.m")),
        )
        .select(
            F.col("X.m").alias("id_a"),
            F.col("Y.m").alias("id_b"),
            F.lit(1_000_000).cast("long").alias("jac_ppm"),
        )
    )
    return cross.unionByName(intra)


def windowed_span_hashes(
    text: Column, k: int = 8, stride: int = 4
) -> Column:
    """md5 hashes of the document's k-token windows sampled every
    ``stride`` positions (array<string>).

    This is the unit of substring-level dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a window that recurs
    across documents marks boilerplate even when whole-document
    fingerprints differ.  Built on text.word_ngrams (shifted-slice
    zip_with, O(k) passes) + an index-lambda filter for the stride —
    one pass, no per-position re-evaluation.  Documents shorter than k
    tokens contribute their whole text as a single window."""
    from kafka_firehose_nozzle_spark.operators.text import word_ngrams

    grams = word_ngrams(text, k)
    strided = F.filter(grams, lambda x, i: i % F.lit(stride) == F.lit(0))
    return F.transform(strided, lambda w: F.md5(w))


def span_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    stride: int = 4,
) -> DataFrame:
    """(doc_id, wh) — one exploded row per sampled window, duplicates
    within a document preserved (denominators count positions).  THE
    span contract: the batch operators, the boilerplate report, and the
    streaming span store all call this one projection, so their hashes
    agree bit-for-bit — tune k/stride here or nowhere."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            windowed_span_hashes(F.col(text_col), k=k, stride=stride)
        ).alias("wh"),
    )


def duplicated_span_counts(
    docs: DataFrame, k: int = 8, stride: int = 4
) -> DataFrame:
    """Per-document duplicated-span tallies: (doc_id, n_windows,
    dup_windows) where dup_windows counts this document's sampled
    windows whose hash occurs in MORE THAN ONE distinct document.

    Scale shape: explode to (doc_id, window_hash) — O(tokens/stride)
    rows per doc — then one two-phase aggregation for cross-document
    window frequency and one hash join back.  Both aggregations
    partial-aggregate map-side; nothing is pairwise in documents.  At
    100 TB the window-frequency table is the big intermediate; it is
    keyed by a 128-bit hash, so the join is an equi-join AQE can run
    as a shuffled hash join with skew splitting."""
    w = span_rows(docs, k=k, stride=stride)
    nd = w.groupBy("wh").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        w.join(nd, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.when(F.col("nd") > 1, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dup_windows"),
        )
    )


def loglog_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    m: int = 64,
    salt: str = "#hll",
) -> DataFrame:
    """Deterministic HyperLogLog distinct-count sketch per group:
    (group_cols..., est_distinct, n_regs).

    HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007) with m
    registers — the harmonic-mean estimator with small-range linear
    counting, NOT the earlier Durand–Flajolet LogLog (whose estimator
    is a geometric mean of ranks) — made cross-engine
    bit-reproducible: the register index is the first md5 byte mod m,
    the rank is the leading-zero count of the next 48 hash bits + 1
    (computed with string ops on the hex — no float log2), and the
    register combine sums 2^(50 - max_rank) in EXACT int64 space
    (that sum IS the harmonic mean's denominator).  The
    only floating-point steps are one int64->double cast and one IEEE
    division by a precomputed double constant — bit-deterministic on
    every engine, so the DuckDB oracle matches exactly.

    Scale shape: one two-phase aggregation to (group, register) — at
    most m rows per group survive the map-side combine — then one tiny
    per-group rollup.  This is how you count distinct users per key on
    100 TB without a count_distinct shuffle of raw keys: the shuffle
    carries <= m * n_groups rows total."""
    regs = (
        df.select(*group_cols, *loglog_reg_rank(key_col, m, salt))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rank").alias("mx"))
    )
    return loglog_finalize(regs, group_cols, m)


def loglog_reg_rank(
    key_col: str, m: int = 64, salt: str = "#hll"
) -> tuple[Column, Column]:
    """The per-row HyperLogLog observation: (register index, rank)
    columns.
    Pure projection — usable in batch AND as a streaming groupBy key,
    where max(rank) per (window, group, reg) is a valid single
    streaming aggregation whose state is bounded by m per group.

    m must divide 256: the register index comes from the first md5
    byte, so any other m makes low registers systematically more
    likely (m=100 would give registers 0-55 double mass) and m > 256
    could never populate registers past 255."""
    if m < 1 or 256 % m != 0:
        raise ValueError(f"m must divide 256, got {m}")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint") % F.lit(m)
    tail = F.substring(h, 3, 12)
    z = F.length(F.regexp_extract(tail, "^0*", 0))
    d = F.substr(tail, z + F.lit(1), F.lit(1))
    bits = (
        F.when(d >= F.lit("8"), F.lit(4))
        .when(d >= F.lit("4"), F.lit(3))
        .when(d >= F.lit("2"), F.lit(2))
        .otherwise(F.lit(1))
    )
    rank = F.when(z >= F.lit(12), F.lit(49)).otherwise(
        F.lit(4) * z + (F.lit(4) - bits) + F.lit(1)
    )
    return reg.alias("reg"), rank.cast("int").alias("rank")


def loglog_finalize(
    regs: DataFrame, group_cols: list[str], m: int = 64
) -> DataFrame:
    """Roll a (group_cols..., reg, mx) register table up to per-group
    estimates.  Mergeable: register tables from different shards or
    micro-batches combine with max(mx) before this rollup — the sketch
    property that makes it distributable."""
    term = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(50 - mx AS INT))")
    per = regs.groupBy(*group_cols).agg(
        F.sum(term).alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    # alpha_m * m^2 * 2^50 as ONE precomputed double literal so both
    # engines perform exactly one division.
    numerator = 0.709365 * float(m) * float(m) * float(1 << 50)
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_regs")) * F.lit(
        1 << 50
    )
    raw = F.lit(numerator) / s_total.cast("double")
    # HLL small-range correction: the raw harmonic estimator biases high
    # when registers are sparse (measured 56 vs true 18 at m=64); below
    # 2.5m with empty registers, linear counting m*ln(m/V) is the
    # estimator. ln() is libm — both engines run the same libm in one
    # container, and the 1e-6 floor-round absorbs last-ulp differences
    # (the same argument the bm25/unigram ln scores rely on).
    empties = (F.lit(m) - F.col("n_regs")).cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / empties)
    est = F.when(
        (raw < F.lit(2.5 * m)) & (F.col("n_regs") < F.lit(m)), lc
    ).otherwise(raw)
    est_rounded = (
        F.floor(est * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0)
    )
    return per.select(
        *group_cols,
        est_rounded.alias("est_distinct"),
        F.col("n_regs").cast("bigint").alias("n_regs"),
    )
