"""Unit tests for the analytics operator library: as-of join, dedup,
similarity, text analysis, multimodal plumbing. Edge cases the driver's
oracle queries don't reach (empty groups, tolerance, no-match keys)."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.operators import dedup as D
from kafka_firehose_nozzle_spark.operators import similarity as S
from kafka_firehose_nozzle_spark.operators import text as TX
from kafka_firehose_nozzle_spark.operators.asof import asof_join
from kafka_firehose_nozzle_spark.operators.multimodal import (
    decode_image,
    documents_as_media,
    media_features_builtin,
    sample_frames,
)


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute)


# --- as-of join -------------------------------------------------------------


def _asof_frames(spark):
    left = spark.createDataFrame(
        [
            Row(ev=1, key="a", ts=_ts(10)),
            Row(ev=2, key="a", ts=_ts(30)),
            Row(ev=3, key="b", ts=_ts(5)),   # before any right row
            Row(ev=4, key="c", ts=_ts(20)),  # key absent on the right
        ]
    )
    right = spark.createDataFrame(
        [
            Row(key="a", ts=_ts(8), px=100),
            Row(key="a", ts=_ts(25), px=200),
            Row(key="b", ts=_ts(6), px=300),
        ]
    )
    return left, right


def test_asof_join_backward_match(spark):
    left, right = _asof_frames(spark)
    got = {
        r["ev"]: r["px"]
        for r in asof_join(
            left, right, on="ts", by="key", right_value_cols=["px"]
        ).collect()
    }
    # ev1: right@8 is latest <= 10; ev2: right@25; ev3: nothing <= 5;
    # ev4: key has no right rows at all
    assert got == {1: 100, 2: 200, 3: None, 4: None}


def test_asof_join_tolerance(spark):
    left, right = _asof_frames(spark)
    got = {
        r["ev"]: r["px"]
        for r in asof_join(
            left, right, on="ts", by="key",
            right_value_cols=["px"], tolerance="3 minutes",
        ).collect()
    }
    # ev1 (10 - 8 = 2min) within tolerance; ev2 (30 - 25 = 5min) not
    assert got == {1: 100, 2: None, 3: None, 4: None}


def test_asof_join_preserves_left_rowcount(spark):
    left, right = _asof_frames(spark)
    out = asof_join(left, right, on="ts", by="key", right_value_cols=["px"])
    assert out.count() == left.count()
    assert [f.name for f in out.schema.fields] == ["ev", "key", "ts", "px"]


# --- dedup -------------------------------------------------------------------


def test_lsh_finds_planted_near_dup(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " extra"),  # near-dup of 1
            Row(doc_id=3, text="completely different content about spark "
                               "structured streaming engines and kafka"),
        ]
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs, num_hashes=8, num_bands=4).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dup_small_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " tail"),
            Row(doc_id=3, text="unrelated words entirely disjoint vocabulary "
                               "zebra xylophone quartz"),
        ]
    )
    sh = {
        r["doc_id"]: r["h"]
        for r in D.with_simhash(docs, "text", "h", bits=16).collect()
    }
    ham_dup = bin(sh[1] ^ sh[2]).count("1")
    ham_diff = bin(sh[1] ^ sh[3]).count("1")
    assert ham_dup < ham_diff


# --- similarity ---------------------------------------------------------------


def _vec_df(spark):
    return spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[-1.0, 0.0]),
        ]
    )


def test_cosine_topk_order(spark):
    df = _vec_df(spark)
    q = S.query_vector(df, 0)
    got = [r["vec_id"] for r in S.cosine_topk(df, q, k=3).collect()]
    assert got == [1, 2, 3]  # by descending cosine to [1, 0]


def test_cosine_topk_blas_matches_expr(spark):
    """impl='blas' must return the identical top-k (ids AND 4-decimal
    sims) as the JVM fold expression on the real embeddings corpus —
    the equivalence contract that lets wide-embedding callers switch
    paths without changing results (VERDICT r3 item 6)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = S.query_vector(emb, 0)
    expr_rows = [tuple(r) for r in S.cosine_topk(emb, q, k=10).collect()]
    blas_rows = [
        tuple(r) for r in S.cosine_topk(emb, q, k=10, impl="blas").collect()
    ]
    assert blas_rows == expr_rows
    # and through the IVF probe path
    cents = S.medoid_centroids(emb, 4)
    assigned = S.ivf_assign(emb, cents)
    e = [tuple(r) for r in S.ivf_topk(assigned, cents, q, k=5).collect()]
    b = [
        tuple(r)
        for r in S.ivf_topk(assigned, cents, q, k=5, impl="blas").collect()
    ]
    assert b == e


def test_cosine_topk_blas_plan_is_arrow_not_row_udf(spark):
    """The BLAS path must evaluate as ArrowEvalPython (vectorized Arrow
    batches), never BatchEvalPython (row-at-a-time pickling)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = S.query_vector(emb, 0)
    plan = (
        S.cosine_topk(emb, q, k=10, impl="blas")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_cosine_topk_rejects_unknown_impl(spark):
    df = _vec_df(spark)
    q = S.query_vector(df, 0)
    with pytest.raises(ValueError, match="impl"):
        S.cosine_topk(df, q, impl="gpu")


def test_ivf_full_probe_matches_brute_force(spark):
    df = _vec_df(spark)
    cents = S.medoid_centroids(df, 2)
    q = S.query_vector(df, 0)
    assigned = S.ivf_assign(df, cents)
    # probing every cell makes IVF exact: must equal brute-force order
    ivf = [r["vec_id"] for r in S.ivf_topk(assigned, cents, q, k=3, nprobe=2).collect()]
    brute = [r["vec_id"] for r in S.cosine_topk(df, q, k=3).collect()]
    assert ivf == brute == [1, 2, 3]


def test_kmeans_centroids_train_and_recall(spark):
    """Trained-IVF recall@10 measured against brute force (VERDICT r1
    item 10). The sf0.01 embeddings corpus is nearly structureless in
    cosine space (within-label mean cos 0.0016 vs cross-label 0.0003 —
    even ideal label-mean centroids only reach ~0.34 recall at
    nprobe=2), so the meaningful bounds are: trained cells must beat the
    random-probe baseline (nprobe/C = 0.2) by a clear margin, and
    probing every cell must be exact."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cents = S.kmeans_centroids(emb, 10, max_iter=4)
    rows = cents.collect()
    assert sorted(r["cell_id"] for r in rows) == list(range(10))
    assert all(len(r["centroid"]) == 64 for r in rows)
    # training is deterministic: same input -> identical centroids
    again = S.kmeans_centroids(emb, 10, max_iter=4).collect()
    assert {r["cell_id"]: r["centroid"] for r in again} == {
        r["cell_id"]: r["centroid"] for r in rows
    }

    assigned = S.ivf_assign(emb, cents).localCheckpoint()
    recalls = []
    for qid in (0, 7, 123, 250, 499):
        q = S.query_vector(emb, qid)
        ann = {
            r["vec_id"]
            for r in S.ivf_topk(assigned, cents, q, k=10, nprobe=2).collect()
        }
        brute = {r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()}
        recalls.append(len(ann & brute) / 10)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.35, recalls  # random probing would give ~0.2

    # probing all cells makes IVF exact
    q = S.query_vector(emb, 0)
    full = {
        r["vec_id"]
        for r in S.ivf_topk(assigned, cents, q, k=10, nprobe=10).collect()
    }
    brute0 = {r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()}
    assert full == brute0


def test_ivf_nprobe_prunes_to_probed_cells(spark):
    df = _vec_df(spark)
    cents = S.medoid_centroids(df, 2)
    q = S.query_vector(df, 0)
    assigned = S.ivf_assign(df, cents)
    probed = {r["vec_id"] for r in S.ivf_topk(assigned, cents, q, k=4, nprobe=1).collect()}
    # cell 0 = {query itself} here, so pruning must exclude vectors
    # assigned to the unprobed cell — a strict subset of brute force
    brute = {r["vec_id"] for r in S.cosine_topk(df, q, k=4).collect()}
    assert probed < brute


def test_pq_encode_and_topk(spark):
    """PQ pipeline contract: codes are num_sub ints in [0, num_codes);
    ADC top-k beats random ranking on recall vs brute force; encoding is
    deterministic; and the ADC scan plan has no join/exchange (the LUT
    rides as literals — the 100 TB codes-column-only scan shape)."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cb = S.pq_codebook(emb, num_sub=4, num_codes=16, dim=64)
    assert cb.count() == 64
    codes = S.pq_encode(emb, cb, num_sub=4, num_codes=16, dim=64)
    rows = codes.collect()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])
    # deterministic: re-encoding yields identical codes
    again = {r["vec_id"]: r["codes"] for r in
             S.pq_encode(emb, cb, num_sub=4, num_codes=16, dim=64).collect()}
    assert again == {r["vec_id"]: r["codes"] for r in rows}

    codes_ckpt = codes.localCheckpoint()
    recalls = []
    for qid in (0, 7, 123, 250, 499):
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        # ADC ranks by distance over mod-seeded codebooks; on this
        # near-structureless corpus the meaningful bound is beating
        # random top-10 (~10/500 = 0.02 expected overlap) by a margin
        pq = {r["vec_id"] for r in
              S.pq_topk(codes_ckpt, cb, qv, k=50, exclude_id=qid).collect()}
        brute = {r["vec_id"] for r in
                 S.cosine_topk(emb, S.query_vector(emb, qid), k=50).collect()}
        recalls.append(len(pq & brute) / 50)
    assert sum(recalls) / len(recalls) > 0.1, recalls

    plan = (
        S.pq_topk(codes_ckpt, cb, qv, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan, plan[:1200]


def test_zorder_write_narrows_file_stats(spark, tmp_path):
    """The deployment claim in operators/layout.py, measured: writing
    orders range-partitioned + sorted by the z-key leaves every file's
    (custkey, orderdate) min/max footprint narrow in BOTH dimensions,
    while a custkey-only sort leaves the date dimension at full span per
    file (no skipping possible for date filters).  Asserted on the real
    parquet footers pyarrow reads — the same stats a scan planner prunes
    with."""
    import pyarrow.parquet as pq
    from kafka_firehose_nozzle_spark.operators import layout as LAY

    o = (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select(
            F.col("o_custkey").alias("c"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("d"),
        )
    )
    b = o.agg(
        F.min("c").alias("c_lo"), F.max("c").alias("c_hi"),
        F.min("d").alias("d_lo"), F.max("d").alias("d_hi"),
    )
    row = b.head()
    c_span = row["c_hi"] - row["c_lo"]
    d_span = row["d_hi"] - row["d_lo"]
    zkey = LAY.scaled_zorder2(
        F.col("c"), F.col("c_lo"), F.col("c_hi"),
        F.col("d"), F.col("d_lo"), F.col("d_hi"), bits=10,
    )
    staged = o.crossJoin(F.broadcast(b)).withColumn("zkey", zkey)

    def file_spans(path):
        spans = []
        for f in (p for p in __import__("os").listdir(path) if p.endswith(".parquet")):
            md = pq.ParquetFile(f"{path}/{f}").metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            cmins, cmaxs, dmins, dmaxs = [], [], [], []
            for rg in range(md.num_row_groups):
                cs = md.row_group(rg).column(idx["c"]).statistics
                ds = md.row_group(rg).column(idx["d"]).statistics
                cmins.append(cs.min); cmaxs.append(cs.max)
                dmins.append(ds.min); dmaxs.append(ds.max)
            spans.append((max(cmaxs) - min(cmins), max(dmaxs) - min(dmins)))
        return spans

    zpath = str(tmp_path / "zorder")
    (staged.repartitionByRange(8, "zkey").sortWithinPartitions("zkey")
     .select("c", "d").write.mode("overwrite").parquet(zpath))
    onedim = str(tmp_path / "bycust")
    (staged.repartitionByRange(8, "c").sortWithinPartitions("c")
     .select("c", "d").write.mode("overwrite").parquet(onedim))

    z_spans = file_spans(zpath)
    one_spans = file_spans(onedim)
    assert len(z_spans) >= 4
    avg = lambda xs: (lambda l: sum(l) / len(l))(list(xs))
    # z-order: BOTH dims narrow per file.  8 files ~ the top 3 key bits,
    # which split d into 4 and c into 2 (plus row-count-boundary
    # straddlers), so the geometric expectation is ~c_span/2 and
    # ~d_span/4 per file
    assert avg(s[0] for s in z_spans) < 0.7 * c_span, z_spans
    assert avg(s[1] for s in z_spans) < 0.55 * d_span, z_spans
    # custkey sort: custkey very narrow but date spans ~everything —
    # the single-dimension layout z-order strictly improves on
    assert avg(s[1] for s in one_spans) > 0.9 * d_span, one_spans


def test_pagerank_int_properties(spark):
    """Integer PageRank on a 3-vertex graph with a known hub: vertex 1
    receives two in-edges, vertex 2 one, vertex 3 none — ranks must
    order 1 > 2 > 3, the sink-free invariant holds (every vertex keeps
    at least the teleport mass), total mass is conserved up to floor-
    division leakage, and reruns are bit-identical."""
    from kafka_firehose_nozzle_spark.operators import graph as G

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1)], "src bigint, dst bigint"
    )
    got = {r["vertex"]: r["rank"] for r in G.pagerank_int(e, iterations=3).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] > got[2] > got[3]
    base = G.TOTAL_MASS // 3
    tele = 15 * base // 100
    assert got[3] == tele  # no in-edges: teleport mass only
    total = sum(got.values())
    assert G.TOTAL_MASS * 0.99 < total <= G.TOTAL_MASS
    again = {r["vertex"]: r["rank"] for r in G.pagerank_int(e, iterations=3).collect()}
    assert again == got


def test_cap_per_group_keeps_best(spark):
    from kafka_firehose_nozzle_spark.operators import sampling as SA

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 4, 5)],
        "g string, id bigint, score bigint",
    )
    got = SA.cap_per_group(df, "g", [F.desc("score"), F.col("id")], 2)
    rows = {(r["g"], r["id"]) for r in got.collect()}
    assert rows == {("a", 2), ("a", 3), ("b", 4)}


def test_scd2_history_periods(spark):
    """Runs collapse, intervals chain, versions are per-key sequential,
    exactly one current row per key."""
    from kafka_firehose_nozzle_spark.operators import history as Hx

    df = spark.createDataFrame(
        [
            (1, "A", 10, 100),
            (1, "A", 20, 101),
            (1, "B", 30, 102),
            (1, "A", 40, 103),
            (2, "X", 10, 104),
        ],
        "k bigint, attr string, t bigint, seq bigint",
    )
    rows = sorted(
        Hx.scd2_history(df, "k", "attr", "t", "seq").collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    got = [
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["version"], r["is_current"])
        for r in rows
    ]
    assert got == [
        (1, "A", 10, 30, 1, False),
        (1, "B", 30, 40, 2, False),
        (1, "A", 40, None, 3, True),
        (2, "X", 10, None, 1, True),
    ]


def test_count_min_estimate_upper_bounds_exact(spark):
    """CM sketch guarantee: est >= exact for every probed key, and on
    this corpus (150 users << 1024 cells) collisions are rare enough
    that the heaviest keys' estimates stay within 2x."""
    import __spark_entry__ as entry

    rows = entry.queries()["count_min_freq"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cm_est"] >= r["exact_cnt"], r
        assert r["cm_est"] <= 2 * r["exact_cnt"], r


def test_bpe_learn_and_apply(spark):
    """On a corpus where 'th' is the clear winner, round 1 must learn
    ('t h'); applying the learned table re-tokenizes consistently with
    the merge order, and token counts drop monotonically with more
    merges."""
    df = spark.createDataFrame(
        [(1, "the thin thing"), (2, "this that the")], "i bigint, t string"
    )
    merges = TX.bpe_learn_merges(df, "t", n_merges=3)
    assert merges[0][0] == "t h" and merges[0][1] == 6
    pairs = [m[0] for m in merges]
    applied = df.select(
        TX.bpe_apply(F.col("t"), pairs).alias("toks"),
        TX.bpe_apply(F.col("t"), pairs[:1]).alias("toks1"),
    ).collect()
    for r in applied:
        assert all(" " not in t for t in r["toks"])
        assert len(r["toks"]) <= len(r["toks1"])
    # doc 1 after merge 1 only: 'th' fused, everything else single chars
    one = df.filter(F.col("i") == 1).select(
        TX.bpe_apply(F.col("t"), pairs[:1]).alias("x")
    ).head()["x"]
    assert one[:3] == ["th", "e", "_"] and "th" in one[3:]


# --- text ----------------------------------------------------------------------


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, text="the cat is on the mat and the dog is in the house"),
            Row(i=2, text="der hund ist gross und die katze ist klein"),
            Row(i=3, text="le chat est sur la table et les livres sont ici"),
            Row(i=4, text="los gatos y el perro es grande y las casas"),
        ]
    )
    got = {r["i"]: r["l"] for r in df.select("i", TX.lang_id(F.col("text")).alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame([Row(text="  The quick   brown fox  ")])
    row = df.select(
        TX.token_count(F.col("text")).alias("n"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.normalize_text(F.col("text")).alias("norm"),
    ).collect()[0]
    assert row["n"] == 4
    assert row["norm"] == "the quick brown fox"
    import hashlib

    assert row["fp"] == hashlib.md5(b"the quick brown fox").hexdigest()


def test_repetition_score(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, text="a b c a b c a b c"),  # heavy 3-gram repetition
            Row(i=2, text="one two three four five"),  # all distinct
            Row(i=3, text="hi"),  # shorter than n: single joined gram
        ]
    )
    got = {
        r["i"]: r["rep"]
        for r in df.select(
            "i", TX.repetition_score(F.col("text"), 3).alias("rep")
        ).collect()
    }
    # "a b c ..." has 7 3-grams, 3 distinct -> 1 - 3/7
    assert got[1] == round(1 - 3 / 7, 6)
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_ngram_containment(spark):
    train = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat on the mat today")]
    )
    test = spark.createDataFrame(
        [
            Row(doc_id=10, text="the cat sat on a rug"),  # shares "the cat sat"
            Row(doc_id=11, text="completely novel text here now"),
        ]
    )
    got = {
        r["doc_id"]: r["containment"]
        for r in TX.ngram_containment(train, test).collect()
    }
    # doc 10: 4 distinct 3-grams, 2 contained ("the cat sat", "cat sat on")
    assert got[10] == 0.5
    assert got[11] == 0.0


def test_kmv_estimate_tracks_exact_distinct(spark):
    """KMV sanity: on a corpus with far more distinct users than k, the
    (k-1)*2^60/h_k estimate must land within 2x of the exact distinct
    count (md5 hashes are uniform enough for that at k=64)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.01"
    row = entry.queries()["kmv_distinct_users"](spark, sf).collect()[0]
    exact = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert row.k == 64
    assert exact / 2 <= row.est_distinct <= exact * 2, (row.est_distinct, exact)


def test_quantization_error_bounded_by_grid_step(spark):
    """Int8 max-abs quantization: per-component error is at most half a
    grid step (scale/254), so the per-vector mean can't exceed it."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    got = entry.queries()["embedding_quantization_error"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    max_scale = emb.select(
        F.max(
            F.array_max(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x: F.abs(x),
                )
            )
        )
    ).collect()[0][0]
    bound = max_scale / 254 * 1.000001
    for r in got:
        assert 0 <= r.avg_err <= bound, (r.label, r.avg_err, bound)
        assert r.max_err <= bound


def test_global_running_sum_matches_serial(spark):
    """Two-pass prefix sum == serial cumulative sum, regardless of how
    rows were partitioned on input."""
    import random

    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(1, 50)) for i in range(500)]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame(shuffled, "k long, w long").repartition(13)
    got = {
        r.k: r.running_sum
        for r in with_global_running_sum(df, "k", "w").collect()
    }
    acc = 0
    for k, w in rows:
        acc += w
        assert got[k] == acc, (k, got[k], acc)


def test_bloom_contamination_no_false_negatives(spark):
    """Bloom filters never miss: every exact-contained gram must be a
    maybe-hit (n_maybe >= n_exact), and fully-contained docs report all
    their grams exact."""
    from kafka_firehose_nozzle_spark.operators.text import bloom_contamination

    train = spark.createDataFrame([("a b c d e f",)], "text string")
    test = spark.createDataFrame(
        [(1, "a b c d"), (2, "quite unrelated words here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bloom_contamination(train, test).collect()}
    # doc 1: grams "a b c" and "b c d" both appear in train
    assert got[1].n_grams == 2 and got[1].n_exact == 2
    for r in got.values():
        assert r.n_maybe >= r.n_exact  # no false negatives, ever
        assert r.n_false_pos == r.n_maybe - r.n_exact >= 0


def test_rolling_hash_fingerprint_robust_to_tail_edit(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [Row(i=1, text=base), Row(i=2, text=base + " thirteen")]
    )
    got = [
        r["fp"]
        for r in df.select(
            TX.rolling_hash_fingerprint(F.col("text")).alias("fp")
        ).collect()
    ]
    # min-over-8-grams usually survives a tail append
    assert got[0] == got[1]


# --- multimodal ------------------------------------------------------------------


def test_media_features_deterministic(spark):
    import hashlib

    docs = spark.createDataFrame([Row(doc_id=1, text="hello"), Row(doc_id=2, text="")])
    media = documents_as_media(docs)
    got = {r["media_id"]: r for r in media_features_builtin(media).collect()}
    assert got[1]["n_bytes"] == 5
    assert got[1]["content_hash"] == hashlib.md5(b"hello").hexdigest()
    assert got[2]["n_bytes"] == 0


def test_media_schema_prunes_payload(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="hello")])
    media = documents_as_media(docs)
    meta_only = media.select("media_id", "meta.codec")
    assert "payload" not in meta_only.columns
    assert meta_only.collect()[0]["codec"] == "utf-8"


def test_decode_image_real_and_frame_quarantine(spark):
    """decode_image is REAL: non-PNG payloads (the text bytes of
    documents_as_media) flow through and yield NULL feature rows —
    quarantine, not crash.  sample_frames (real since r7) applies the
    same contract: a non-AVI payload yields one NULL quarantine row."""
    docs = documents_as_media(
        spark.createDataFrame([Row(doc_id=1, text="x")])
    )
    rows = decode_image(docs).collect()
    assert len(rows) == 1
    assert rows[0]["media_id"] == 1
    assert rows[0]["width"] is None and rows[0]["sum_r"] is None
    frames = sample_frames(docs).collect()
    assert len(frames) == 1
    assert frames[0]["media_id"] == 1 and frames[0]["frame_idx"] is None


def _real_png(w: int, h: int) -> bytes:
    """A COMPLETE valid PNG file built with stdlib zlib — real CRCs,
    real IDAT (w x h gray pixels) — so the parser golden runs against
    bytes any external viewer would accept, not just our own fixture."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, depth 8
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))  # filter 0 rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_parse_image_header_goldens():
    """Parser vs spec, no Spark: a complete real PNG (stdlib-zlib CRCs
    and IDAT), a JPEG whose marker walk must step over APP0 + DQT + a
    standalone TEM marker to reach SOF2 (progressive — not just C0),
    a GIF87a little-endian screen, and the quarantine cases
    (truncation mid-header, corrupt segment length, unknown magic)."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        parse_image_header,
    )

    assert parse_image_header(_real_png(320, 7)) == ("png", 320, 7)

    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\xff\xdb\x00\x43" + bytes(65)
    tem = b"\xff\x01"  # standalone: no length field
    sof2 = b"\xff\xc2\x00\x11\x08" + (480).to_bytes(2, "big") + (
        640
    ).to_bytes(2, "big") + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    jpeg = b"\xff\xd8" + app0 + tem + dqt + sof2
    assert parse_image_header(jpeg) == ("jpeg", 640, 480)
    # C4 (DHT) must NOT be taken for a frame header
    dht = b"\xff\xc4\x00\x05" + bytes(3)
    assert parse_image_header(b"\xff\xd8" + dht + sof2) == (
        "jpeg",
        640,
        480,
    )

    gif = b"GIF87a" + (1023).to_bytes(2, "little") + (64).to_bytes(
        2, "little"
    ) + b"\xf7\x00\x00"
    assert parse_image_header(gif) == ("gif", 1023, 64)

    assert parse_image_header(None) == (None, None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (
        None,
        None,
        None,
    )  # truncated before IHDR
    assert parse_image_header(b"\xff\xd8\xff\xdb\x00\x01") == (
        "jpeg",
        None,
        None,
    )  # corrupt segment length: must terminate, not loop
    assert parse_image_header(b"BM\x00\x00") == (None, None, None)


def test_decode_image_headers_distributed(spark):
    """The mapInPandas wrapper: synthetic payloads for all three
    formats decode to the arithmetic dims, and a NULL payload yields
    NULL columns (Int32 nullable path through Arrow)."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        decode_image_headers,
        synthetic_image_payloads,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="x") for i in range(6)]
    )
    payloads = synthetic_image_payloads(docs)
    got = {
        r["media_id"]: r
        for r in decode_image_headers(payloads).collect()
    }
    for i in range(6):
        fmt = ["png", "jpeg", "gif"][i % 3]
        assert got[i]["format"] == fmt, i
        assert got[i]["width"] == 64 + i % 1857
        assert got[i]["height"] == 64 + (i * 7) % 1017
    nulls = spark.createDataFrame(
        [Row(media_id=99, payload=None)],
        "media_id long, payload binary",
    )
    r = decode_image_headers(nulls).collect()[0]
    assert (r["format"], r["width"], r["height"]) == (None, None, None)


def test_embedding_lsh_dup_pairs_finds_near_identical(spark):
    """Near-identical vectors land in the same sign bucket in at least
    one band (planes can't separate an ~0 angle unless a plane passes
    between them), so the LSH-blocked pair generator must surface them;
    far-apart pairs must be filtered by the threshold even when
    co-bucketed."""
    rows = []
    # 8 plane vectors (ids 0..7, num_bands=2 * k=4) spanning directions
    for i in range(8):
        rows.append(Row(vec_id=i, embedding=[1.0 + 0.1 * i, 0.1 * i, 1.0]))
    # planted near-dup pair: 100/101 almost parallel
    rows.append(Row(vec_id=100, embedding=[0.5, 0.5, 0.001]))
    rows.append(Row(vec_id=101, embedding=[0.5, 0.5, 0.0]))
    # far-away vector: negative orthant, shares no bucket bit pattern
    rows.append(Row(vec_id=200, embedding=[-1.0, -1.0, -1.0]))
    df = spark.createDataFrame(rows)
    got = D.embedding_lsh_dup_pairs(
        df, num_bands=2, planes_per_band=4, threshold=0.99
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (100, 101) in pairs
    assert all(200 not in p for p in pairs)
    # pair caught by both bands must appear exactly once (distinct)
    assert len(got) == len(pairs)


def test_sign_bits_expr_matches_column_form(spark):
    """The single-parse SQL sign-bits word must be VALUE-IDENTICAL to
    the Column-API chain it replaced (sum_j of when(dot(v, plane_j) >=
    0, 2^j).otherwise(0) over left-fold dots) — including awkward
    double reprs (exponent notation, negative zero, non-terminating
    binaries) and NULL embeddings (NULL dot -> CASE else-branch 0,
    exactly like when().otherwise(0))."""
    from kafka_firehose_nozzle_spark.operators.dedup import _sign_bits_expr
    from kafka_firehose_nozzle_spark.operators.similarity import dot

    planes = [
        [1e-05, -5e22, 0.1 + 0.2, -0.0],
        [1 / 3, -7.234e18, 2.5e-10, 1.0],
        [-1e-300, 4093.0, -0.25, 0.5],
    ]
    rows = [
        Row(vec_id=0, embedding=[0.3, -1.75, 2e-9, 0.125]),
        Row(vec_id=1, embedding=[-1e5, 0.1, 0.2, -0.3]),
        Row(vec_id=2, embedding=None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    v = F.col("embedding").cast("array<double>")
    bits_old = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bits_old = bits_old + F.when(dot(v, plane) >= 0, F.lit(2**j)).otherwise(
            F.lit(0)
        ).cast("long")
    got = df.select(
        "vec_id",
        bits_old.alias("old"),
        _sign_bits_expr("embedding", planes).alias("new"),
    ).collect()
    assert all(r["old"] == r["new"] for r in got), got


def test_ivf_assign_literal_sql_matches_column_form(spark):
    """The single-parse literal-centroid assignment must be VALUE-
    IDENTICAL to the Column-API chain it replaced (zip_with over literal
    centroid arrays, left-fold dots, hoisted vector norm, first-
    occurrence argmax, NULL embedding -> NULL cell) — including awkward
    double reprs that exercise the text round trip."""
    from kafka_firehose_nozzle_spark.operators.similarity import (
        dot,
        ivf_assign,
        l2_norm,
    )

    cents = [
        (0, [1e-05, -5e22, 0.1 + 0.2, -0.0]),
        (1, [1 / 3, -7.234e18, 2.5e-10, 1.0]),
        (2, [-1e-300, 4093.0, -0.25, 0.5]),
    ]
    rows = [
        Row(vec_id=0, embedding=[0.3, -1.75, 2e-9, 0.125]),
        Row(vec_id=1, embedding=[-1e5, 0.1, 0.2, -0.3]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(
        [Row(cell_id=c, centroid=v) for c, v in cents],
        "cell_id long, centroid array<double>",
    )

    import math

    def fold_norm(c):
        acc = 0.0
        for x in c:
            acc = acc + x * x
        return math.sqrt(acc)

    v = F.col("embedding").cast("array<double>")
    cents_col = F.array(*[F.array(*[F.lit(x) for x in c]) for _, c in cents])
    cnorms = F.array(*[F.lit(fold_norm(c)) for _, c in cents])
    cells = F.array(*[F.lit(cid).cast("bigint") for cid, _ in cents])
    vnorm = l2_norm(v)
    sims = F.zip_with(cents_col, cnorms, lambda c, n: dot(v, c) / (vnorm * n))
    pos = F.array_position(sims, F.array_max(sims)).cast("int")
    old = df.select(
        "vec_id",
        F.when(pos.isNotNull(), F.element_at(cells, pos)).alias("cell_id"),
    )
    new = ivf_assign(df, cdf, mode="literal").select("vec_id", "cell_id")
    got_old = {r["vec_id"]: r["cell_id"] for r in old.collect()}
    got_new = {r["vec_id"]: r["cell_id"] for r in new.collect()}
    assert got_old == got_new, (got_old, got_new)
    assert got_new[3] is None


def test_dup_components_empty_pairs(spark):
    # no edges -> no components, and the loop must not iterate
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert D.dup_components(empty).count() == 0


def test_embedding_lsh_requires_contiguous_plane_ids(spark):
    # ids 0..num_planes-1 seed the hyperplanes; a gap must fail loudly,
    # not silently bucket against missing planes
    df = spark.createDataFrame(
        [Row(vec_id=50, embedding=[1.0, 0.0]), Row(vec_id=51, embedding=[0.0, 1.0])]
    )
    with pytest.raises(ValueError, match="contiguous ids"):
        D.embedding_lsh_dup_pairs(df, num_bands=2, planes_per_band=4)


def test_dup_components_chain_and_islands(spark):
    from kafka_firehose_nozzle_spark.operators.dedup import dup_components

    # chain 1-2-3 (diameter 2), pair 10-11, isolated nodes absent
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11)]
    )
    got = {r["doc_id"]: r["component_id"] for r in dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_scrub_pii_redacts_all_three_kinds(spark):
    from kafka_firehose_nozzle_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [Row(t="mail a.b+c@ex-1.org ip 192.168.0.1 tel +1-555-0100-001 end")]
    )
    out = df.select(scrub_pii(F.col("t")).alias("c")).collect()[0]["c"]
    assert out == "mail <EMAIL> ip <IP> tel <PHONE> end"


def test_stratified_sample_deterministic_and_bounded(spark):
    from kafka_firehose_nozzle_spark.operators.sampling import stratified_sample

    rows = [Row(k=f"s{i % 3}", id=i) for i in range(60)]
    df = spark.createDataFrame(rows)
    a = sorted((r["k"], r["id"]) for r in stratified_sample(df, "k", "id", 4).collect())
    b = sorted(
        (r["k"], r["id"])
        for r in stratified_sample(df.repartition(7), "k", "id", 4).collect()
    )
    assert a == b  # layout-independent
    from collections import Counter

    assert all(v == 4 for v in Counter(k for k, _ in a).values())


def test_salted_counts_equal_direct_groupby(spark):
    from kafka_firehose_nozzle_spark.operators.skew import salted_counts

    # heavy skew: 90% of rows share one key
    rows = [Row(k="hot" if i % 10 else f"cold{i}", v=float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows)
    direct = {(r["k"], r["count"]) for r in df.groupBy("k").count().collect()}
    salted = {(r["k"], r["n"]) for r in salted_counts(df, "k", ["v"]).collect()}
    assert salted == direct


def test_zorder_interleave_properties(spark):
    """Pure-Python model check of the z-key expression: evaluate the
    Spark OR-chain on a batch of pairs and verify bit-exact agreement
    with the reference interleave, including de-interleaving back to
    the inputs (the key loses nothing below `bits`)."""
    import random

    from kafka_firehose_nozzle_spark.operators import layout as LAY

    rng = random.Random(42)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    df = spark.createDataFrame(pairs, "a bigint, b bigint")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", LAY.zorder_key2(F.col("a"), F.col("b"), bits=16).alias("z")
        ).collect()
    }

    def model(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    def deinterleave(z):
        a = b = 0
        for i in range(16):
            a |= ((z >> (2 * i)) & 1) << i
            b |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    for (a, b), z in got.items():
        assert z == model(a, b)
        assert deinterleave(z) == (a, b)


def test_triangle_count_known_graphs(spark):
    from kafka_firehose_nozzle_spark.operators import graph as G

    # K4: 4 triangles; plus a disjoint path 10-11-12: 0 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(10, 11), (11, 12)], "a bigint, b bigint"
    )
    assert G.triangle_count(edges).head()["n_triangles"] == 4

    # co-occurrence support threshold: groups {g1,g2,g3} all contain
    # (1,2); only 2 contain (1,3)
    pairs = spark.createDataFrame(
        [(g, n) for g in (1, 2, 3) for n in (1, 2)] + [(1, 3), (2, 3)],
        "g bigint, s bigint",
    )
    got = {
        (r["a"], r["b"])
        for r in G.undirected_edges_min_support(pairs, "g", "s", 3).collect()
    }
    assert got == {(1, 2)}


def test_prefix_jaccard_matches_brute_force(spark):
    """The prefix filter's no-false-negative guarantee, verified: on
    the sf0.001 corpus the PPJoin-style operator must return EXACTLY
    the pairs a brute-force all-pairs exact-Jaccard join returns.
    The corpus is augmented with exact-duplicate copies (doc_id +
    100000) so the exact-dup collapse's intra-group (jaccard-1) and
    cross-group expansion paths are both exercised against brute
    force."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = base.unionByName(
        base.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            *[c for c in base.columns if c != "doc_id"],
        )
    )
    got = {
        (r["id_a"], r["id_b"], r["jac_ppm"])
        for r in D.prefix_jaccard_pairs(docs, "text", "doc_id", 60).collect()
    }

    toks = docs.select(
        F.col("doc_id"),
        D.char_ngram_set(F.col("text"), 5).alias("ts"),
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ta"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("tb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size(F.col("ta")) + F.size(F.col("tb")) - inter
    brute = {
        (r["id_a"], r["id_b"], r["jac_ppm"])
        for r in (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("_i", inter)
            .withColumn("_u", union)
            .filter(F.col("_i") * 100 >= F.col("_u") * 60)
            .select(
                "id_a", "id_b", F.expr("(_i * 1000000L) div _u").alias("jac_ppm")
            )
            .collect()
        )
    }
    assert got == brute
    assert len(got) > 0  # planted near-dups exist at >= 0.6


# --- constraint audit -------------------------------------------------------


def test_audit_detects_injected_violations(spark):
    from kafka_firehose_nozzle_spark.operators import audit as AU

    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=None)]
    )
    # FK: 99 is orphaned; NULL is exempt (SQL FK semantics)
    assert AU.fk_orphans(child, parent, "fk", "pk").count() == 1

    dup = spark.createDataFrame([Row(k=1), Row(k=1), Row(k=1), Row(k=2)])
    extras = AU.duplicate_keys(dup, "k").collect()
    assert {(r["k"], r["_extra"]) for r in extras} == {(1, 2)}

    vals = spark.createDataFrame([Row(x=5), Row(x=-1), Row(x=None)])
    # violations: -1 fails the predicate, NULL is counted as violating
    assert AU.check(vals, F.col("x") > 0).count() == 2

    rep = AU.audit_report(
        [
            ("fk", AU.fk_orphans(child, parent, "fk", "pk"), child),
            ("dup", AU.duplicate_keys(dup, "k"), dup),
            ("rng", AU.check(vals, F.col("x") > 0), vals),
        ]
    ).collect()
    got = {r["check_name"]: (r["violations"], r["checked"]) for r in rep}
    assert got == {"fk": (1, 4), "dup": (2, 4), "rng": (2, 3)}


# --- semantic dedup ---------------------------------------------------------


def test_semantic_dedup_drops_planted_duplicate(spark):
    # 8 well-separated basis-ish vectors + an exact copy of id 3 at id 100
    # and a near-copy of id 5 at id 101; both copies must be dropped and
    # every original kept.
    import math

    base = []
    for i in range(8):
        v = [0.0] * 8
        v[i] = 1.0
        base.append(Row(vec_id=i, embedding=v))
    base.append(Row(vec_id=100, embedding=[0.0] * 3 + [5.0] + [0.0] * 4))
    near5 = [0.0] * 8
    near5[5] = 1.0
    near5[6] = 0.1
    base.append(Row(vec_id=101, embedding=near5))
    df = spark.createDataFrame(base)
    cents = S.medoid_centroids(df, 8)
    kept = S.semantic_dedup_keep(df, cents, threshold=0.9)
    ids = {r["vec_id"] for r in kept.collect()}
    assert ids == set(range(8))
    # a sterner threshold keeps the near-copy but not the exact copy
    kept2 = S.semantic_dedup_keep(df, cents, threshold=0.999)
    ids2 = {r["vec_id"] for r in kept2.collect()}
    assert ids2 == set(range(8)) | {101}


def test_knn_graph_ranks_by_similarity(spark):
    # 6 vectors in 2 tight groups; with every id < num_planes*2 doubling
    # as a plane, use planes from ids 0..7 (need 8 ids) -> pad corpus.
    import random

    rows = []
    for i in range(12):
        g = i % 2
        v = [1.0 + 0.01 * i if g == 0 else 0.05, 0.05 if g == 0 else 1.0 + 0.01 * i]
        rows.append(Row(vec_id=i, embedding=v))
    df = spark.createDataFrame(rows)
    out = S.knn_graph_lsh(df, k=2, n=12).collect()
    by_v = {}
    for r in out:
        by_v.setdefault(r["vec_id"], []).append(r)
    for v, nbrs in by_v.items():
        assert len(nbrs) <= 2
        sims = [r["cos_sim"] for r in sorted(nbrs, key=lambda r: r["nn_rank"])]
        assert sims == sorted(sims, reverse=True)


def test_pca_top_component_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    basis = rng.normal(size=8)
    basis /= np.linalg.norm(basis)
    # strong rank-1 signal + small noise: power iteration must align
    rows = []
    for i in range(200):
        x = rng.normal() * 3.0 * basis + rng.normal(size=8) * 0.1
        rows.append(Row(vec_id=i, embedding=[float(v) for v in x]))
    df = spark.createDataFrame(rows)
    out = S.pca_top_component(df, iterations=3).collect()
    v = np.zeros(8)
    for r in out:
        v[r["pos"]] = r["loading_ppm"] / 1e6
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    m = np.array([r["embedding"] for r in rows])
    c = m - m.mean(axis=0)
    w, vecs = np.linalg.eigh(c.T @ c)
    top = vecs[:, -1]
    assert abs(abs(float(v @ top)) - 1.0) < 1e-2


def test_lsh_pairs_gemm_matches_expr(spark):
    from queries._base import _parquet_nrows, _t

    sf = "/root/testdata/sf0.01"
    emb = _t(spark, sf, "embeddings")
    n = _parquet_nrows(f"{sf}/embeddings.parquet")
    a = {
        (r.id_a, r.id_b): r.cos_sim
        for r in D.embedding_lsh_dup_pairs(emb, threshold=0.2, n=n).collect()
    }
    gemm = D.embedding_lsh_dup_pairs(emb, threshold=0.2, n=n, impl="gemm")
    # plan must batch whole buckets through Arrow (FlatMapGroupsInPandas),
    # never a row-at-a-time Python eval and never a cartesian product
    plan = gemm._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    b = {(r.id_a, r.id_b): r.cos_sim for r in gemm.collect()}
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) <= 1e-6


# --- edge cases for wave-4 operators ---------------------------------------


def test_duplicated_window_stats_short_docs(spark):
    # docs shorter than the window fall back to their single joined form;
    # two identical short docs must count as mutual duplicates
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="tiny doc"),
            Row(doc_id=2, text="tiny doc"),
            Row(doc_id=3, text="unique snippet"),
        ]
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"], r["dup_ppm"])
        for r in TX.duplicated_window_stats(df, n=8).collect()
    }
    assert out[1] == (1, 1, 1000000)
    assert out[2] == (1, 1, 1000000)
    assert out[3] == (1, 0, 0)


def test_knn_graph_sparse_buckets(spark):
    # a vertex alone in both its band buckets yields no candidates and
    # is absent from the graph (documented LSH recall trade)
    rows = [Row(vec_id=i, embedding=[1.0, 0.0]) for i in range(8)]
    rows.append(Row(vec_id=99, embedding=[-1.0, -1e-9]))
    df = spark.createDataFrame(rows)
    out = S.knn_graph_lsh(df, k=2, n=9)
    ids = {r["vec_id"] for r in out.collect()}
    assert 99 not in ids or len(ids) > 0  # never crashes; 99 may isolate


def test_merge_upsert_pure_insert_and_pure_update(spark):
    from kafka_firehose_nozzle_spark.operators.history import merge_upsert

    target = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    # pure insert
    merged = merge_upsert(
        target, spark.createDataFrame([Row(k=3, v="c")]), "k"
    )
    assert {(r["k"], r["v"]) for r in merged.collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }
    # pure update
    merged2 = merge_upsert(
        target, spark.createDataFrame([Row(k=2, v="B")]), "k"
    )
    assert {(r["k"], r["v"]) for r in merged2.collect()} == {
        (1, "a"),
        (2, "B"),
    }
    # empty updates: identity
    empty = spark.createDataFrame([], "k bigint, v string")
    assert merge_upsert(target, empty, "k").count() == 2


def test_semantic_dedup_empty_and_all_dup(spark):
    # all-identical corpus with threshold below 1: only the lowest id
    # survives per cell
    rows = [Row(vec_id=i, embedding=[1.0, 2.0, 3.0]) for i in range(10)]
    df = spark.createDataFrame(rows)
    cents = S.medoid_centroids(df, 2)
    kept = sorted(
        r["vec_id"] for r in S.semantic_dedup_keep(df, cents, 0.9).collect()
    )
    assert kept == [0]


# --- property-based invariants for the merge/fusion operators ---------------


def test_merge_upsert_properties(spark):
    """Property sweep (driver-side reference model vs the operator):
    result keys = target ∪ updates; every update key carries the update
    value; every untouched key carries the target value. Hypothesis's
    function-scoped fixture rule precludes @given with the shared spark
    session, so this drives a seeded sweep of generated cases."""
    import random

    from kafka_firehose_nozzle_spark.operators.history import merge_upsert

    rng = random.Random(42)
    for _case in range(8):
        t_keys = rng.sample(range(30), rng.randint(0, 12))
        u_keys = rng.sample(range(30), rng.randint(0, 12))
        target = spark.createDataFrame(
            [(k, f"t{k}") for k in t_keys], "k bigint, v string"
        )
        updates = spark.createDataFrame(
            [(k, f"u{k}") for k in u_keys], "k bigint, v string"
        )
        got = {
            r["k"]: r["v"] for r in merge_upsert(target, updates, "k").collect()
        }
        want = {k: f"t{k}" for k in t_keys}
        want.update({k: f"u{k}" for k in u_keys})
        assert got == want, (t_keys, u_keys)


def test_rrf_fuse_reference_model(spark):
    """rrf_fuse must equal the arithmetic reference model for arbitrary
    overlapping rankings, and be insensitive to input list order."""
    from kafka_firehose_nozzle_spark.operators.retrieval import rrf_fuse

    ra = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "id bigint, rank int"
    )
    rb = spark.createDataFrame(
        [(12, 1), (10, 2), (13, 3)], "id bigint, rank int"
    )
    def model(rankings):
        out = {}
        for r in rankings:
            for i, rk in r:
                pts = 10**9 // (60 + rk)
                s, n = out.get(i, (0, 0))
                out[i] = (s + pts, n + 1)
        return out

    want = model([[(10, 1), (11, 2), (12, 3)], [(12, 1), (10, 2), (13, 3)]])
    for order in ([ra, rb], [rb, ra]):
        got = {
            r["id"]: (r["rrf_score"], r["n_lists"])
            for r in rrf_fuse(order, id_col="id").collect()
        }
        assert got == want


def test_semdedup_gemm_matches_expr(spark):
    from queries._base import _t

    sf = "/root/testdata/sf0.01"
    emb = _t(spark, sf, "embeddings")
    cents = S.medoid_centroids(emb, 8)
    a = {r["vec_id"] for r in S.semantic_dedup_keep(emb, cents, 0.35).collect()}
    gemm = S.semantic_dedup_keep(emb, cents, 0.35, impl="gemm")
    plan = gemm._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    b = {r["vec_id"] for r in gemm.collect()}
    assert a == b


def test_duplicated_span_counts_planted_boilerplate(spark):
    """Two docs sharing an 8-token boilerplate run are flagged on those
    windows; a unique doc reports zero duplicated windows."""
    from kafka_firehose_nozzle_spark.operators.dedup import (
        duplicated_span_counts,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, boiler + " one two three four five six seven eight nine"),
            (3, "completely different words nowhere else repeated at all "
                "in this corpus of three documents honestly unique"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"])
        for r in duplicated_span_counts(docs, k=8, stride=4).collect()
    }
    assert out[3][1] == 0
    # the shared 12-token prefix yields windows at positions 1 and 5
    # (stride 4) fully inside the boilerplate for both docs
    assert out[1][1] >= 2 and out[2][1] >= 2
    assert out[1][0] > out[1][1]  # unique tail windows are not flagged


def test_duplicated_span_counts_short_doc_whole_text(spark):
    """Docs under k tokens fall back to one whole-text window; exact
    short-text twins count each other."""
    from kafka_firehose_nozzle_spark.operators.dedup import (
        duplicated_span_counts,
    )

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "other text")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"])
        for r in duplicated_span_counts(docs).collect()
    }
    assert out[1] == (1, 1) and out[2] == (1, 1) and out[3] == (1, 0)


def test_loglog_distinct_accuracy(spark):
    """LogLog m=64 (std error ~1.3/sqrt(64) = 16%) must land within
    ~3 sigma of the true distinct count, and be exactly reproducible
    across runs (deterministic md5 registers)."""
    from kafka_firehose_nozzle_spark.operators.dedup import loglog_distinct

    rows = [(i % 2000, "a") for i in range(6000)]
    df = spark.createDataFrame(rows, "user_id bigint, g string")
    est1 = loglog_distinct(df, "user_id", ["g"]).collect()[0]
    est2 = loglog_distinct(df, "user_id", ["g"]).collect()[0]
    assert est1["est_distinct"] == est2["est_distinct"]
    assert abs(est1["est_distinct"] - 2000) / 2000 < 0.5
    assert est1["n_regs"] == 64  # 2000 keys saturate all 64 registers


def test_blocked_name_pairs_rarest_token_blocking(spark):
    """ER finds near-duplicate names inside rarest-token blocks only,
    never across blocks, and excludes exact duplicates (lev 0 collapses
    at the distinct-names stage)."""
    from kafka_firehose_nozzle_spark.operators.linkage import (
        blocked_name_pairs,
    )

    df = spark.createDataFrame(
        [
            ("acme widget",),   # x2 — dup rows collapse to one entity
            ("acme widget",),
            ("acme widgets",),  # lev 1 from above, same rare token? no:
            ("zeta gadget",),   # widget/widgets differ -> block on them
            ("zeta gidget",),   # gadget vs gidget lev 1, block "zeta"?
        ],
        "name string",
    )
    out = blocked_name_pairs(df, "name", max_distance=4)
    pairs = {(r["name_1"], r["name_2"]): r for r in out.collect()}
    # zeta gadget / zeta gidget: the variant tokens gadget/gidget are
    # hapax, so ONE-key blocking would split them — the two-rarest-token
    # keys {gadget, zeta} and {gidget, zeta} share zeta and must pair.
    assert ("zeta gadget", "zeta gidget") in pairs
    assert pairs[("zeta gadget", "zeta gidget")]["lev"] == 1
    # acme widget / acme widgets: share the key acme, lev 1; the
    # duplicated "acme widget" rows collapse to one entity with
    # n_rows 2 (no lev-0 self pair).
    r = pairs[("acme widget", "acme widgets")]
    assert r["lev"] == 1 and r["n_rows_1"] == 2 and r["n_rows_2"] == 1
    # cross-block far pair must be absent
    assert ("acme widget", "zeta gadget") not in pairs
    # dedup of candidates found under BOTH shared keys: exactly one row
    df3 = spark.createDataFrame(
        [("shiny gold ring one",), ("shiny gold ring two",),
         ("dull tin cup extra",)],
        "name string",
    )
    out3 = [(r["name_1"], r["name_2"]) for r in
            blocked_name_pairs(df3, "name").collect()]
    assert out3.count(("shiny gold ring one", "shiny gold ring two")) == 1


def test_trimmed_mean_robust_to_outliers(spark, tmp_path):
    """The 5% trim must remove planted extreme outliers: 100 values of
    10.0 plus 5 values of 1e6 -> trimmed mean stays 10.0."""
    from queries.relational import q_trimmed_event_stats

    rows = [(i, "2024-01-01 00:00:00", i, "buy", 10.0, "{}")
            for i in range(100)]
    rows += [(100 + i, "2024-01-01 00:00:00", 100 + i, "buy", 1e6, "{}")
             for i in range(5)]
    import os
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).withColumn("ts", F_ts()).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    out = q_trimmed_event_stats(spark, d).collect()
    assert len(out) == 1
    assert out[0]["trimmed_mean"] == 10.0
    assert out[0]["n_kept"] == 105 - 2 * (105 // 20)


def F_ts():
    from pyspark.sql import functions as F

    return F.to_timestamp("ts")


def test_sparse_cosine_topk_known_vectors(spark):
    """Identical activity -> cos 1.0; proportional activity -> cos 1.0;
    partial overlap ranks below; zero-overlap users are absent (inner
    join on bucket — they'd rank last anyway)."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.operators.similarity import (
        sparse_cosine_topk,
    )

    rows = [
        (1, "h1", 1.0), (1, "h2", 2.0),          # anchor (min key)
        (2, "h1", 1.0), (2, "h2", 2.0),          # identical -> 1.0
        (3, "h1", 3.0), (3, "h2", 6.0),          # proportional -> 1.0
        (4, "h1", 2.0),                           # partial overlap
        (5, "h9", 5.0),                           # disjoint -> absent
    ]
    df = spark.createDataFrame(rows, "user_id bigint, b string, v double")
    anchor = df.agg(F.min("user_id").alias("user_id"))
    got = {
        r["user_id"]: r["cos_sim"]
        for r in sparse_cosine_topk(
            df, "user_id", F.col("b"), F.col("v"), anchor, k=5
        ).collect()
    }
    assert got[2] == 1.0 and got[3] == 1.0
    assert 0 < got[4] < 1.0
    assert 5 not in got and 1 not in got


def test_avg_micro_expr_matches_fraction_reference(spark):
    """_avg_micro_expr must equal round-half-up(s/n * 1e6) computed in
    exact rational arithmetic, across magnitudes and remainders — 500
    seeded cases in one DataFrame pass (the expression underpins every
    micro-unit average in the registry)."""
    import random
    from fractions import Fraction

    from queries._base import _avg_micro_expr

    rng = random.Random(4242)
    # stay inside the expression's documented int64-safe domain:
    # (s div n) * 1e6 must fit, i.e. s < ~9.2e12 * n
    cases = []
    while len(cases) < 500:
        n = rng.randrange(1, 10**7)
        s = rng.randrange(0, min(10**15, 9 * 10**12 * n))
        cases.append((s, n))
    df = spark.createDataFrame(cases, "s bigint, n bigint")
    got = {
        (r["s"], r["n"]): r["m"]
        for r in df.select(
            "s", "n", _avg_micro_expr("s", "n").alias("m")
        ).collect()
    }
    for s, n in cases:
        q = Fraction(s, n) * 1_000_000
        want = (q.numerator * 2 + q.denominator) // (2 * q.denominator)
        assert got[(s, n)] == want, (s, n, got[(s, n)], want)


def test_loglog_rank_matches_python_reference(spark):
    """The hex-string rank expression must equal the leading-zero-count
    reference on the md5 tail for arbitrary keys (the register math the
    whole sketch family rests on)."""
    import hashlib

    from kafka_firehose_nozzle_spark.operators.dedup import loglog_reg_rank

    keys = [str(i) for i in range(3000)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    reg, rank = loglog_reg_rank("k", m=64)
    got = {r["k"]: (r["reg"], r["rank"])
           for r in df.select("k", reg, rank).collect()}
    for k in keys:
        h = hashlib.md5((k + "#hll").encode()).hexdigest()
        want_reg = int(h[:2], 16) % 64
        tail = h[2:14]
        v = int(tail, 16)
        want_rank = 49 if v == 0 else (48 - v.bit_length()) + 1
        assert got[k] == (want_reg, want_rank), (k, got[k], (want_reg, want_rank))


def test_exact_kth_matches_sorted_reference_across_ranks(spark):
    """exact_kth with a tiny tail (forcing several histogram rounds)
    must return the identical value a full sort returns, for first,
    last, median, and near-boundary ranks."""
    from kafka_firehose_nozzle_spark.operators.selection import exact_kth

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_extendedprice")
    ref = sorted(
        r["l_extendedprice"]
        for r in li.collect()
        if r["l_extendedprice"] is not None
    )
    n = len(ref)
    for k in [1, 2, (n + 1) // 2, n - 1, n]:
        got = exact_kth(li, "l_extendedprice", k, tail_rows=50)
        assert got == float(ref[k - 1]), k


def test_exact_kth_degenerate_duplicates_stay_bounded(spark):
    """A value duplicated far beyond tail_rows collapses the interval
    to zero width; the finish must still be correct AND histogram-
    bounded — the round-5 ADVICE case where orderBy().limit(rank) let
    the driver merge grow with the duplicate count.  10k copies of one
    value with tail_rows=10 exercises exactly that branch (width -> 0
    while remaining=10k >> tail_rows), for ranks on both sides of and
    inside the duplicate run."""
    from kafka_firehose_nozzle_spark.operators.selection import exact_kth

    dup = [(5.0,)] * 10_000
    edges = [(1.0,), (2.0,), (9.0,)]
    df = spark.createDataFrame(edges + dup, "x double")
    ref = sorted(v for (v,) in edges + dup)
    n = len(ref)
    for k in [1, 2, 3, 4, n // 2, n - 1, n]:
        got = exact_kth(df, "x", k, tail_rows=10)
        assert got == ref[k - 1], k


def test_exact_kth_refuses_nonfinite_values(spark):
    """A single NaN would poison the max() bound and make every rank
    return NaN; the operator must refuse loudly instead."""
    import math

    import pytest

    from kafka_firehose_nozzle_spark.operators.selection import exact_kth

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(float("nan"),)], "x double"
    )
    with pytest.raises(ValueError, match="NaN/Infinity"):
        exact_kth(df, "x", 50)
    df2 = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(math.inf,)], "x double"
    )
    with pytest.raises(ValueError, match="NaN/Infinity"):
        exact_kth(df2, "x", 50)


# --- round-6 text operators -------------------------------------------------------


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's defining property: two documents sharing a run of
    w + k - 1 = 7 tokens must share at least one fingerprint HASH (at
    different positions), no matter what surrounds the run. Disjoint
    documents share nothing."""
    from kafka_firehose_nozzle_spark.operators.text import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"xx yy zz {shared} qq ww"),
            Row(doc_id=1, text=f"{shared} aa bb cc dd ee ff gg"),
            Row(doc_id=2, text="one two three four five six seven eight"),
        ]
    )
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[0] & by_doc[1], "shared 7-token run must co-fingerprint"
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])


def test_winnow_selection_model(spark):
    """Spark selection == a literal Python transcription of the
    algorithm (k-gram 40-bit md5 hashes, window min, leftmost tie,
    dedupe) on a short doc — pins the encode/decode arithmetic."""
    import hashlib

    from kafka_firehose_nozzle_spark.operators.text import (
        winnow_fingerprints,
    )

    text = "a b c a b c a b c d"
    toks = text.split()
    k, w = 4, 4
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams
    ]
    want = set()
    m = len(hs)
    for start in range(max(m - w, 0) + 1):
        window = hs[start : start + w]
        mn = min(window)
        pos = start + window.index(mn)  # leftmost tie via encoded pos
        want.add((mn, pos))
    got = {
        (r["fp_hash"], r["fp_pos"])
        for r in winnow_fingerprints(
            spark.createDataFrame([Row(doc_id=0, text=text)])
        ).collect()
    }
    assert got == want


def test_bigram_lm_scores_model(spark):
    """Spark bigram LM == hand-computed add-one model on a 3-doc
    corpus; repeated-phrase doc must score higher (less surprising)
    than the unique-phrase doc."""
    import math

    from kafka_firehose_nozzle_spark.operators.text import (
        bigram_lm_scores,
    )

    corpus = {
        0: "the cat sat on the mat",
        1: "the cat sat on the hat",
        2: "quantum flux capacitor overload",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in corpus.items()]
    )
    toksd = {i: t.split() for i, t in corpus.items()}
    cb, cw = {}, {}
    for ts in toksd.values():
        for a, b in zip(ts, ts[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
            cw[a] = cw.get(a, 0) + 1
    vocab = len({t for ts in toksd.values() for t in ts})

    def dround(x, k):  # det_round twin
        return math.floor(x * 10**k + 0.5) / 10**k

    want = {}
    for i, ts in toksd.items():
        terms = [
            dround(
                math.log(cb[(a, b)] + 1) - math.log(cw[a] + vocab), 6
            )
            for a, b in zip(ts, ts[1:])
        ]
        s = round(sum(terms), 6)  # decimal(20,6) sum is exact
        avg = dround(s / len(terms), 4)
        want[i] = (len(terms), avg, dround(math.exp(-avg), 4))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"], r["ppl"])
        for r in bigram_lm_scores(docs).collect()
    }
    assert got == want
    assert got[0][1] > got[2][1]  # shared phrasing less surprising


def test_gram_novelty_attribution(spark):
    """First-seen semantics: an exact copy with a higher doc_id has
    zero novelty; the original keeps full credit; an unrelated doc is
    fully novel. Short docs fall back to the whole-doc gram."""
    from kafka_firehose_nozzle_spark.operators.text import gram_novelty

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=base),
            Row(doc_id=2, text="fresh unique content entirely"),
        ]
    )
    got = {r["doc_id"]: r for r in gram_novelty(docs).collect()}
    assert got[0]["novel_grams"] == got[0]["n_grams"] == 3
    assert got[0]["novelty_ppm"] == 1_000_000
    assert got[1]["novel_grams"] == 0 and got[1]["novelty_ppm"] == 0
    assert got[2]["n_grams"] == 1 and got[2]["novelty_ppm"] == 1_000_000


def test_winnow_dup_pairs_finds_overlap_and_caps_stop_fps(spark):
    """Two docs sharing a long run must pair with n_shared >= 2; a
    fingerprint carried by MORE docs than the cap is dropped before
    the self-join, so a 120-copy boilerplate cluster produces ZERO
    pairs (the stop-fingerprint discipline that bounds bucket fan-out
    at scale)."""
    from kafka_firehose_nozzle_spark.operators.text import (
        winnow_dup_pairs,
    )

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{run} unique tail zero"),
            Row(doc_id=1, text=f"other head one {run}"),
            Row(doc_id=2, text="nothing in common here at all friends"),
        ]
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_dup_pairs(docs).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert all(2 not in p for p in pairs)

    clones = spark.createDataFrame(
        [
            Row(doc_id=i, text="same old boilerplate text repeated verbatim")
            for i in range(120)
        ]
    )
    assert winnow_dup_pairs(clones).count() == 0
    # with a cap above the cluster size the pairs reappear (the short
    # clone doc has one window, hence one shared fingerprint)
    assert (
        winnow_dup_pairs(clones, min_shared=1, max_docs_per_fp=200).count()
        == 120 * 119 // 2
    )


def test_parse_av_header_goldens():
    """WAV chunk walk (incl. an odd-size chunk forcing word-align
    padding and a LIST chunk before fmt) and MP4 box walk (mvhd nested
    after a free box inside moov); truncation and unknown magic
    quarantine to all-None."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        parse_av_header,
    )

    fmt = (
        (1).to_bytes(2, "little")
        + (2).to_bytes(2, "little")          # stereo
        + (44100).to_bytes(4, "little")
        + (176400).to_bytes(4, "little")     # byte rate
        + (4).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    odd = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # pad
    chunks = (
        odd
        + b"fmt " + (16).to_bytes(4, "little") + fmt
        + b"data" + (88200).to_bytes(4, "little")
    )
    wav = b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks
    assert parse_av_header(wav) == ("wav", 44100, 2, 500)  # 88200/176400

    mvhd = (
        (108).to_bytes(4, "big") + b"mvhd" + bytes(4) + bytes(8)
        + (600).to_bytes(4, "big") + (900).to_bytes(4, "big") + bytes(80)
    )
    free = (16).to_bytes(4, "big") + b"free" + bytes(8)
    moov = (8 + len(free) + len(mvhd)).to_bytes(4, "big") + b"moov" + free + mvhd
    mp4 = (16).to_bytes(4, "big") + b"ftyp" + b"isom" + bytes(4) + moov
    assert parse_av_header(mp4) == ("mp4", None, None, 1500)

    assert parse_av_header(None) == (None, None, None, None)
    assert parse_av_header(b"RIFF\x00\x00") == (None, None, None, None)
    assert parse_av_header(b"OggS\x00\x00\x00\x00\x00\x00\x00\x00") == (
        None, None, None, None,
    )


def test_decode_av_headers_distributed(spark):
    """The mapInPandas wrapper decodes both container families and
    passes NULL payloads through as NULL columns."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        decode_av_headers,
        synthetic_av_payloads,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="x") for i in range(4)]
    )
    got = {
        r["media_id"]: r
        for r in decode_av_headers(synthetic_av_payloads(docs)).collect()
    }
    for i in (0, 2):
        rate = 8000 + 4000 * (i % 8)
        assert got[i]["container"] == "wav"
        assert got[i]["sample_rate"] == rate
        assert got[i]["channels"] == 1
        assert got[i]["duration_ms"] == 4 * (1 + i % 997) * 1000 // (rate * 2)
    for i in (1, 3):
        assert got[i]["container"] == "mp4"
        assert got[i]["sample_rate"] is None
        assert got[i]["duration_ms"] == (31 * i % 100000) * 1000 // (1000 + i % 9000)


def test_decode_png_pixels_handmade_golden():
    """Pixel decoder vs HAND-COMPUTED spec math (encoder-independent:
    a symmetric encode/decode bug cannot cancel here).  A 2x2 RGB PNG
    with row 0 Sub-filtered and row 1 Paeth-filtered; the filtered
    bytes below were derived by hand from the PNG spec recurrences.
    Also: grayscale + RGBA paths, and the quarantine cases (16-bit
    depth, interlace, truncated IDAT, non-PNG)."""
    import zlib

    import numpy as np

    from kafka_firehose_nozzle_spark.operators.multimodal import (
        decode_png_pixels,
    )

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def png(w, h, color, raw, depth=8, interlace=0):
        ihdr = (
            w.to_bytes(4, "big")
            + h.to_bytes(4, "big")
            + bytes((depth, color, 0, 0, interlace))
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    # pixels: row0 = (1,2,3),(10,20,30); row1 = (100,110,120),(200,210,220)
    # row0 ft=1 Sub:   px0 pred=0 -> 1,2,3 ; px1 pred=px0 -> 9,18,27
    # row1 ft=4 Paeth: px0 a=c=0, p=b -> pred=up=(1,2,3) -> 99,108,117
    #                  px1 a=(100,110,120) b=(10,20,30) c=(1,2,3)
    #                  p=a+b-c=(109,128,147); pa=(9,18,27) smallest -> pred=a
    #                  -> 100,100,100
    raw = (
        b"\x01" + bytes((1, 2, 3, 9, 18, 27))
        + b"\x04" + bytes((99, 108, 117, 100, 100, 100))
    )
    px = decode_png_pixels(png(2, 2, 2, raw))
    assert px.shape == (2, 2, 3)
    assert px.tolist() == [
        [[1, 2, 3], [10, 20, 30]],
        [[100, 110, 120], [200, 210, 220]],
    ]

    # grayscale (color 0): Up filter row
    raw_g = b"\x00" + bytes((5, 7)) + b"\x02" + bytes((10, 20))
    pg = decode_png_pixels(png(2, 2, 0, raw_g))
    assert pg.reshape(2, 2).tolist() == [[5, 7], [15, 27]]

    # RGBA (color 6): Average filter; px0 pred=b//2=0, px1 pred=(a+0)//2
    raw_a = b"\x03" + bytes((8, 8, 8, 8, 4, 4, 4, 4))
    pa = decode_png_pixels(png(2, 1, 6, raw_a))
    assert pa.reshape(2, 4).tolist() == [[8, 8, 8, 8], [8, 8, 8, 8]]

    # quarantine: 16-bit depth, interlaced, truncated idat, non-png
    assert decode_png_pixels(png(2, 2, 2, raw, depth=16)) is None
    assert decode_png_pixels(png(2, 2, 2, raw, interlace=1)) is None
    assert decode_png_pixels(png(3, 3, 2, raw)) is None  # wrong length
    assert decode_png_pixels(b"GIF89a\x00\x00") is None
    assert decode_png_pixels(None) is None

    # round-trip against the fixture builder (all five filters)
    from kafka_firehose_nozzle_spark.operators.multimodal import build_png

    img = build_png(
        6, 7, lambda x, y: (x * 40 % 256, y * 37 % 256, (x + y) % 256)
    )
    got = decode_png_pixels(img)
    want = np.array(
        [
            [[x * 40 % 256, y * 37 % 256, (x + y) % 256] for x in range(6)]
            for y in range(7)
        ],
        dtype=np.uint8,
    )
    assert (got == want).all()


def test_ngram_diversity_short_docs_no_crash(spark, tmp_path):
    """0- and 1-token documents must flow through ngram_diversity (the
    n=2/3 gram arrays guard size(toks) >= n; an unguarded
    ngram_strings builds slice(toks, 1, -1) and aborts the job).
    Empty/short docs contribute to n=1 only — same as the oracle."""
    import __spark_entry__ as entry

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "", "en", "web", 0),
            (1, "one", "en", "web", 3),
            (2, "two words", "en", "web", 9),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING,"
        " n_chars LONG",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {
        (r["n"],): (r["occurrences"], r["distinct_grams"])
        for r in entry.queries()["ngram_diversity"](spark, d).collect()
    }
    assert rows[(1,)] == (3, 3)  # 'one', 'two', 'words'
    assert rows[(2,)] == (1, 1)  # only 'two words'
    assert (3,) not in rows  # no doc has 3 tokens


def test_image_ahash_quarantine_and_grid(spark):
    """aHash: non-PNG payloads yield NULL rows; images smaller than
    the grid are quarantined too; a flat image hashes to 0 (no block
    above the mean); a half-bright image sets exactly the bright
    blocks."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        build_png,
        image_ahash,
    )

    flat = build_png(8, 8, lambda x, y: (50, 50, 50))
    half = build_png(8, 8, lambda x, y: (200, 200, 200) if x >= 4 else (10, 10, 10))
    tiny = build_png(2, 2, lambda x, y: (1, 2, 3))
    rows = {
        r["media_id"]: r
        for r in image_ahash(
            spark.createDataFrame(
                [(0, bytearray(flat)), (1, bytearray(half)),
                 (2, bytearray(tiny)), (3, bytearray(b"GIF89a"))],
                "media_id LONG, payload BINARY",
            )
        ).collect()
    }
    assert rows[0]["ahash16"] == 0 and rows[0]["bits_set"] == 0
    # right half bright: bits bx in {2,3} for every by -> 8 bits set
    assert rows[1]["bits_set"] == 8
    expected = sum(
        1 << (by * 4 + bx) for by in range(4) for bx in (2, 3)
    )
    assert rows[1]["ahash16"] == expected
    assert rows[2]["ahash16"] is None  # smaller than grid
    assert rows[3]["ahash16"] is None  # not a PNG


# ---------------------------------------------------------------------------
# wave 6r: Bradley-Terry MM solver (pure-integer fixed point)
# ---------------------------------------------------------------------------


def test_bradley_terry_orders_by_win_rate():
    """A dominant item must rank above a middling one above a losing
    one; strengths renormalize to mean ~1e6 each iteration."""
    from kafka_firehose_nozzle_spark.operators.ranking import (
        MICRO,
        bradley_terry_micro,
    )

    obs = {
        ("a", "b"): 30,
        ("b", "a"): 5,
        ("a", "c"): 25,
        ("c", "a"): 2,
        ("b", "c"): 20,
        ("c", "b"): 10,
    }
    s = bradley_terry_micro(["a", "b", "c"], obs, iters=3)
    assert s["a"] > s["b"] > s["c"]
    # renormalization keeps the total at B * MICRO (floor-div slack < B)
    assert abs(sum(s.values()) - 3 * MICRO) < 3


def test_bradley_terry_smoothing_handles_unseen_items():
    """An item with zero observed duels gets a finite middling
    strength (add-one smoothing), never a div-by-zero or zero lock."""
    from kafka_firehose_nozzle_spark.operators.ranking import (
        bradley_terry_micro,
    )

    s = bradley_terry_micro(["a", "b", "ghost"], {("a", "b"): 50}, iters=3)
    assert s["ghost"] > 0
    assert s["a"] > s["ghost"]


def test_bradley_terry_symmetric_duels_tie():
    from kafka_firehose_nozzle_spark.operators.ranking import (
        bradley_terry_micro,
    )

    s = bradley_terry_micro(
        ["a", "b"], {("a", "b"): 7, ("b", "a"): 7}, iters=3
    )
    assert s["a"] == s["b"]


def test_kcore_converges_within_round_budget(spark):
    """The fixed peel budget must reach the fixpoint: one extra round
    removes nothing (so 'k-core' is the true converged core, not a
    truncated peel)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from queries.graph import _KCORE_K

    core = entry.queries()["kcore_parts"](
        spark, "/root/testdata/sf0.001"
    )
    # every surviving vertex already has degree >= k, so a further
    # peel is a no-op exactly when min(core_degree) >= k
    mind = core.agg(F.min("core_degree").alias("m")).head()["m"]
    assert mind is None or mind >= _KCORE_K


def test_avi_build_parse_roundtrip_and_quarantine():
    """AVI frame extraction byte-level goldens: build_avi -> parse_avi
    recovers the logical top-down frames exactly (bottom-up flip, 4-byte
    row-stride unpadding, word-aligned chunk walk all exercised — w=17
    forces stride 20 != w); non-AVI, truncated-frame, and non-DIB
    payloads quarantine to None instead of raising."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        build_avi,
        parse_avi,
    )

    w, h, uspf = 17, 11, 250_000
    fns = [
        (lambda f: lambda p: (31 + f * 97 + p * 7) % 256)(f) for f in range(5)
    ]
    avi = build_avi(w, h, uspf, fns)
    got = parse_avi(avi)
    assert got is not None
    g_uspf, g_w, g_h, frames = got
    assert (g_uspf, g_w, g_h, len(frames)) == (uspf, w, h, 5)
    for f, fr in enumerate(frames):
        assert fr == bytes((31 + f * 97 + p * 7) % 256 for p in range(w * h))

    assert parse_avi(None) is None
    assert parse_avi(b"not an avi at all") is None
    assert parse_avi(b"RIFF" + (4).to_bytes(4, "little") + b"WAVE") is None
    assert parse_avi(avi[:-4]) is None  # truncated last frame
    # biCompression != 0 (pretend MJPEG) must quarantine, not misdecode
    assert parse_avi(avi.replace(b"\x08\x00\x00\x00\x00\x00", b"\x08\x00MJPG", 1)) is None


def test_avi_audio_stream_strf_not_misread():
    """A video-plus-audio AVI (second strl: strh 'auds' + 18-byte
    WAVEFORMATEX strf) must parse with the VIDEO stream's dimensions —
    the pre-fix parser let every strf overwrite w/h/bitcount, so the
    audio format bytes clobbered the video header and the file
    quarantined or misparsed (ADVICE r7)."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        build_avi,
        parse_avi,
    )

    w, h, uspf = 17, 11, 250_000
    fns = [(lambda f: lambda p: (f * 97 + p * 7) % 256)(f) for f in range(3)]
    av = build_avi(w, h, uspf, fns, with_audio_stream=True)
    got = parse_avi(av)
    assert got is not None
    g_uspf, g_w, g_h, frames = got
    assert (g_uspf, g_w, g_h, len(frames)) == (uspf, w, h, 3)
    for f, fr in enumerate(frames):
        assert fr == bytes((f * 97 + p * 7) % 256 for p in range(w * h))
    # audio-only strls (no vids strh anywhere) still quarantine
    video_only = build_avi(w, h, uspf, fns)
    assert parse_avi(video_only.replace(b"vids", b"auds", 1)) is None


def test_sample_frames_grid_and_hashes(spark):
    """sample_frames end-to-end on a tiny frame: every k-th frame at
    k = 1s // frame-interval, t_ms exact, pixel_hash = sum (p+1)*pixel
    over the LOGICAL pixels; an unparseable payload yields one NULL
    quarantine row."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        build_avi,
        sample_frames,
    )

    # 2 fps -> k=2 over 5 frames: indices 0, 2, 4 at t = 0, 1000, 2000 ms
    avi = build_avi(
        5, 3, 500_000,
        [(lambda f: lambda p: (f * 97 + p * 7) % 256)(f) for f in range(5)],
    )
    media = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"garbage"))],
        "media_id long, payload binary",
    )
    rows = {
        r["frame_idx"]: r
        for r in sample_frames(media, every_ms=1000).collect()
        if r["media_id"] == 1
    }
    assert sorted(rows) == [0, 2, 4]
    for idx in (0, 2, 4):
        r = rows[idx]
        assert (r["t_ms"], r["width"], r["height"]) == (idx * 500, 5, 3)
        assert r["pixel_hash"] == sum(
            (p + 1) * ((idx * 97 + p * 7) % 256) for p in range(15)
        )
    quarantine = [
        r for r in sample_frames(media).collect() if r["media_id"] == 2
    ]
    assert len(quarantine) == 1 and quarantine[0]["frame_idx"] is None


def test_lsh_star_edges_same_components_as_clique(spark):
    """lsh_component_edges (bucket star, O(c) edges) must reach the
    IDENTICAL dup_components fixed point as lsh_candidate_pairs (bucket
    clique, O(c^2) edges) — the equivalence that licenses the sf10
    giant-bucket fix. Checked on the real sf0.001 corpus + planted
    mutations."""
    from kafka_firehose_nozzle_spark.operators import dedup as D
    from queries.dedup import _planted_docs

    docs2 = _planted_docs(spark, "/root/testdata/sf0.001")
    clique = {
        (r["doc_id"], r["component_id"])
        for r in D.dup_components(
            D.lsh_candidate_pairs(docs2, num_hashes=8, num_bands=4)
        ).collect()
    }
    star = {
        (r["doc_id"], r["component_id"])
        for r in D.dup_components(
            D.lsh_component_edges(docs2, num_hashes=8, num_bands=4)
        ).collect()
    }
    assert star == clique and len(star) > 0


def test_lsh_candidate_pairs_bucket_cap(spark):
    """max_bucket drops over-large buckets BEFORE the self-join (the
    100 TB stop-shingle valve): uncapped output is a superset of capped
    output, a generous cap is a no-op, and a cap of 1 kills every pair
    (every pair needs a bucket of >= 2)."""
    from kafka_firehose_nozzle_spark.operators import dedup as D
    from queries.dedup import _planted_docs

    docs2 = _planted_docs(spark, "/root/testdata/sf0.001")
    full = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs2).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs2, max_bucket=5).collect()
    }
    assert capped < full  # strictly smaller: sf0.001 has buckets > 5
    assert {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(docs2, max_bucket=10**9).collect()
    } == full
    assert D.lsh_candidate_pairs(docs2, max_bucket=1).count() == 0


def test_benchmark_decontam_stop_gram_cap(spark):
    """max_bench_doc_freq drops benchmark boilerplate grams from the
    probe side: a gram in every bench doc stops matching; rare grams
    still flag; a generous cap is a no-op vs the exact default."""
    from kafka_firehose_nozzle_spark.operators.text import (
        benchmark_decontam,
    )

    boiler = "the quick brown fox jumps over the lazy dog"  # 9 words
    rare = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    bench = spark.createDataFrame(
        [(1, f"{boiler} one"), (2, f"{boiler} two"), (3, rare)],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(10, boiler), (11, rare), (12, "no shared grams here at all ok")],
        "doc_id long, text string",
    )
    full = {
        r["train_id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in benchmark_decontam(train, bench, n=8).collect()
    }
    assert set(full) == {10, 11}
    assert full[10][1] == 2  # boilerplate gram hits both bench docs
    capped = {
        r["train_id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in benchmark_decontam(
            train, bench, n=8, max_bench_doc_freq=1
        ).collect()
    }
    assert set(capped) == {11}  # boilerplate grams (df=2) dropped
    assert capped[11] == full[11]
    assert {
        r["train_id"]: (r["n_shared_grams"], r["n_bench_docs"])
        for r in benchmark_decontam(
            train, bench, n=8, max_bench_doc_freq=10**6
        ).collect()
    } == full


def test_prefix_jaccard_candidate_budget(spark):
    """The saturated-vocabulary guardrail: a generous budget is a
    no-op; a tiny budget refuses FAST with a diagnosis naming the LSH
    alternative, instead of grinding a near-quadratic candidate join."""
    import pytest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ok = D.prefix_jaccard_pairs(docs, candidate_budget=10**12).count()
    assert ok == D.prefix_jaccard_pairs(docs).count()  # budget is a no-op
    with pytest.raises(ValueError, match="saturated vocabulary"):
        D.prefix_jaccard_pairs(docs, candidate_budget=10)


def test_lsh_cap_recall_tradeoff(spark):
    """The operating tradeoff OPERATING.md documents, pinned on a
    planted corpus: a boilerplate CLIQUE (identical docs -> one giant
    bucket) and isolated near-dup PAIRS (buckets of 2).  A cap below
    the clique size removes exactly the clique's pairs (their recall
    goes to 0) while every isolated pair survives (recall stays 1) —
    the cap trades boilerplate-clique volume, never ordinary-pair
    recall."""
    from kafka_firehose_nozzle_spark.operators import dedup as D

    boiler = "identical boilerplate header text repeated across the fleet"
    clique = [(i, boiler) for i in range(20)]
    # isolated pairs: unique text per pair, shared between 2 docs only
    pairs = []
    for p in range(5):
        t = f"unique document number {p} about topic {p * 7} with tail {p}"
        pairs += [(100 + 2 * p, t), (101 + 2 * p, t)]
    docs = spark.createDataFrame(clique + pairs, "doc_id long, text string")
    planted = {(100 + 2 * p, 101 + 2 * p) for p in range(5)}

    def got(cap):
        return {
            (r["id_a"], r["id_b"])
            for r in D.lsh_candidate_pairs(docs, max_bucket=cap).collect()
        }

    uncapped = got(None)
    assert planted <= uncapped  # identical-text pairs always co-bucket
    clique_pairs = {p for p in uncapped if p[0] < 100 and p[1] < 100}
    assert len(clique_pairs) == 20 * 19 // 2  # the clique is all-pairs
    capped = got(10)  # below the 20-doc clique, above the pair buckets
    assert capped & clique_pairs == set()  # clique volume: gone
    assert planted <= capped  # isolated-pair recall: untouched
    assert capped == uncapped - clique_pairs  # and nothing else changed


def test_cap_group_size_semantics(spark):
    """The shared stop-valve helper's pinned semantics (skew.py): groups
    are kept or dropped ATOMICALLY (never truncated), the comparison is
    <= (a group of exactly max_n survives), and NULL key values form
    their own group like the groupBy they mirror."""
    from kafka_firehose_nozzle_spark.operators.skew import cap_group_size

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 1, 2), ("a", 2, 3),  # (a,1) size 2; (a,2) size 1
         ("b", 1, 4), ("b", 1, 5), ("b", 1, 6),  # (b,1) size 3
         (None, 1, 7), (None, 1, 8)],            # (null,1) size 2
        "k string, j int, v int",
    )
    keep2 = {r["v"] for r in cap_group_size(df, ["k", "j"], 2).collect()}
    assert keep2 == {1, 2, 3, 7, 8}  # boundary <=: size-2 groups survive
    keep1 = {r["v"] for r in cap_group_size(df, ["k", "j"], 1).collect()}
    assert keep1 == {3}  # atomic: no group is truncated down to 1 row
    assert cap_group_size(df, ["k", "j"], 3).count() == 8  # generous no-op
    # null keys are ONE group of size 2, not two singleton groups
    assert {r["v"] for r in cap_group_size(df, ["k", "j"], 1).collect()
            if r["k"] is None} == set()


def test_asof_join_jvm_matches_pandas_reference(spark):
    """The JVM-native window as-of (default) must agree row-for-row with
    the cogrouped pd.merge_asof reference on adversarial data: duplicate
    timestamps on both sides (tie rules!), NULL value columns at tied
    timestamps (null-first vs NaN-last ordering, ADVICE r7), keys
    missing from either side, all three directions, with and without
    tolerance."""
    import random

    from kafka_firehose_nozzle_spark.operators.asof import (
        asof_join,
        asof_join_pandas,
    )

    rng = random.Random(7)
    base = 1_700_000_000
    left_rows = [
        (i, rng.randint(0, 9), _ts_of(base + rng.randint(0, 50) * 60))
        for i in range(200)
    ]
    right_rows = [
        (rng.randint(0, 11), _ts_of(base + rng.randint(0, 50) * 60),
         # small px range forces value ties; None rows land on tied
         # timestamps too, pinning the null tie-break between Spark's
         # null-first struct order and pandas' na_position
         None if rng.random() < 0.3 else rng.randint(0, 5))
        for _ in range(150)
    ]
    left = spark.createDataFrame(left_rows, "ev long, key long, ts timestamp")
    right = spark.createDataFrame(right_rows, "key long, ts timestamp, px long")
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, "5 minutes"):
            kw = dict(
                on="ts", by="key", right_value_cols=["px"],
                direction=direction, tolerance=tol,
            )
            got = {
                r["ev"]: r["px"]
                for r in asof_join(left, right, **kw).collect()
            }
            want = {
                r["ev"]: r["px"]
                for r in asof_join_pandas(left, right, **kw).collect()
            }
            assert got == want, (direction, tol)


def test_asof_join_rejects_fractional_on_and_tolerance(spark):
    """Fractional `on` dtypes and non-integral numeric tolerances must
    raise instead of silently truncating (cast-to-long would make the
    JVM path diverge from the exact-valued pandas reference, ADVICE
    r7); integral `on` with integral tolerance still works."""
    import pytest

    from kafka_firehose_nozzle_spark.operators.asof import asof_join

    left_d = spark.createDataFrame(
        [(1, 1, 2.5)], "ev long, key long, t double"
    )
    right_d = spark.createDataFrame([(1, 2.0, 9)], "key long, t double, px long")
    with pytest.raises(TypeError, match="fixed-point"):
        asof_join(left_d, right_d, on="t", by="key", right_value_cols=["px"])

    left_i = spark.createDataFrame([(1, 1, 25)], "ev long, key long, t long")
    right_i = spark.createDataFrame([(1, 20, 9)], "key long, t long, px long")
    with pytest.raises(ValueError, match="integral"):
        asof_join(
            left_i, right_i, on="t", by="key",
            right_value_cols=["px"], tolerance=4.5,
        )
    ok = asof_join(
        left_i, right_i, on="t", by="key",
        right_value_cols=["px"], tolerance=5,
    ).collect()
    assert [(r["ev"], r["px"]) for r in ok] == [(1, 9)]


def _ts_of(epoch_sec: int):
    import datetime

    return datetime.datetime.utcfromtimestamp(epoch_sec)


# ---------------------------------------------------- r10 review closures


def test_blas_and_gemm_tolerate_null_and_zero_embeddings(spark):
    """The NumPy fast paths must not CRASH on degenerate inputs
    (np.vstack(None) raised inside the executor): NULL embeddings match
    the expr path's NULL-cosine exclusion exactly; zero-norm vectors
    score NaN and are excluded on the blas path (the expr path
    surfaces them as an ANSI divide-by-zero — strictness is its
    documented contract under Spark 4's ANSI default)."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(50)
    dim = len(emb.head()["embedding"])
    with_null = emb.unionByName(
        spark.createDataFrame([(90001, None, 0)], emb.schema)
    )
    q = S.query_vector(emb, 0)
    expr_rows = [
        tuple(r) for r in S.cosine_topk(with_null, q, k=10).collect()
    ]
    blas_rows = [
        tuple(r)
        for r in S.cosine_topk(with_null, q, k=10, impl="blas").collect()
    ]
    assert blas_rows == expr_rows  # NULL row excluded identically

    # zero-norm: NULL sim (Arrow NaN->null), sorted last — never in a
    # top-k that real rows can fill, instead of ranking at 0.0
    with_zero = emb.unionByName(
        spark.createDataFrame([(90002, [0.0] * dim, 0)], emb.schema)
    )
    blas_zero = [
        tuple(r)
        for r in S.cosine_topk(with_zero, q, k=10, impl="blas").collect()
    ]
    assert len(blas_zero) == 10
    assert not any(r[0] == 90002 for r in blas_zero)

    cents = S.medoid_centroids(emb, 4)
    keep_expr = {
        r["vec_id"]
        for r in S.semantic_dedup_keep(with_null, cents, 0.99).collect()
    }
    keep_gemm = {
        r["vec_id"]
        for r in S.semantic_dedup_keep(
            with_null, cents, 0.99, impl="gemm"
        ).collect()
    }
    assert keep_expr == keep_gemm  # and neither path crashed


def test_pq_codebook_with_holes_encodes_and_searches(spark):
    """A corpus whose ids don't cover every residue mod num_codes used
    to KeyError in pq_encode/pq_topk; missing codes now borrow the
    subspace's lowest present code — ADC distances are unchanged (the
    borrowed centroid is an identical copy)."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 10)  # ids 0..9 < num_codes=16 -> holes
    dim = len(emb.head()["embedding"])
    cb = S.pq_codebook(emb, num_sub=4, num_codes=16, dim=dim)
    codes = S.pq_encode(emb, cb, num_sub=4, num_codes=16, dim=dim)
    assert codes.count() == 10
    qvec = [float(x) for x in emb.head()["embedding"]]
    top = S.pq_topk(codes, cb, qvec, k=3, num_sub=4, num_codes=16)
    assert top.count() == 3


def test_ivf_assign_is_zero_shuffle_and_empty_centroids_fail_fast(spark):
    """ivf_assign's docstring promises the corpus is never shuffled —
    now true: the plan has no Exchange and no Window (centroids ride as
    literals). Empty centroid tables fail with a clear error."""
    import pytest as _pytest

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(100)
    cents = S.medoid_centroids(emb, 4)
    plan = (
        S.ivf_assign(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Window" not in plan

    with _pytest.raises(ValueError, match="empty centroid table"):
        S.ivf_assign(emb, cents.filter("cell_id < 0"))


def test_ivf_assign_broadcast_matches_literal(spark):
    """The above-cap broadcast-Arrow path must produce IDENTICAL
    assignments to the literal path on the real embeddings corpus
    (VERDICT r10 item 1's done-criterion) — and its plan must still be
    a zero-shuffle map: no Exchange on the corpus side, ArrowEvalPython
    (never BatchEvalPython) as the scorer."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.medoid_centroids(emb, 8)
    lit = {
        r["vec_id"]: r["cell_id"]
        for r in S.ivf_assign(emb, cents, mode="literal").collect()
    }
    bc = S.ivf_assign(emb, cents, mode="broadcast")
    got = {r["vec_id"]: r["cell_id"] for r in bc.collect()}
    assert got == lit and len(lit) > 0

    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan

    with pytest.raises(ValueError, match="mode"):
        S.ivf_assign(emb, cents, mode="windowed")


def test_ivf_assign_auto_gates_on_literal_plan_size(spark, monkeypatch):
    """mode='auto' stays literal below LITERAL_CENTROID_DOUBLES_CAP
    (zero Python in the plan — the oracle-pinned form) and flips to the
    broadcast Arrow map above it (production C, where a 1e6+-literal
    tree would stall Catalyst analysis)."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(50)
    cents = S.medoid_centroids(emb, 4)

    plan = (
        S.ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan  # default: literal, pure JVM

    monkeypatch.setattr(S, "LITERAL_CENTROID_DOUBLES_CAP", 10)
    plan = (
        S.ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan  # auto flipped above the cap


def test_ivf_assign_null_embedding_gets_null_cell(spark):
    """A NULL embedding assigns NULL cell_id in BOTH modes (ADVICE r10:
    the old crossJoin+window path assigned NULL vectors to the lowest
    cell_id; the literal path's array_position over all-NULL sims is
    NULL — an improvement, now pinned)."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cell_id bigint, centroid array<double>",
    )
    for mode in ("literal", "broadcast"):
        got = {
            r["vec_id"]: r["cell_id"]
            for r in S.ivf_assign(df, cents, mode=mode).collect()
        }
        assert got == {0: 0, 1: None, 2: 1}, mode


def test_kmeans_centroids_broadcast_matches_literal(spark):
    """Training with the broadcast-Arrow assignment must reproduce the
    literal path's centroids exactly on the test corpus: per-iteration
    assignments agree (argmax ties pinned equal here), and the update
    step's decimal component averages are order-independent, so equal
    assignments => bit-equal centroids."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    lit = {
        r["cell_id"]: r["centroid"]
        for r in S.kmeans_centroids(emb, 8, max_iter=2, mode="literal").collect()
    }
    bc = {
        r["cell_id"]: r["centroid"]
        for r in S.kmeans_centroids(emb, 8, max_iter=2, mode="broadcast").collect()
    }
    assert bc == lit and len(lit) == 8


def test_wav_pcm_stats_null_and_odd_payloads_quarantined(spark):
    """NULL payloads and odd-length data chunks yield NULL stats rows
    (quarantine-don't-crash), matching every sibling decoder."""
    from kafka_firehose_nozzle_spark.operators.multimodal import wav_pcm_stats

    def wav(data: bytes) -> bytes:
        return (
            b"RIFF"
            + (4 + 8 + len(data)).to_bytes(4, "little")
            + b"WAVE"
            + b"data"
            + len(data).to_bytes(4, "little")
            + data
        )

    rows = [
        (1, wav(b"\x01\x00\x02\x00")),  # two samples: 1, 2
        (2, None),  # NULL payload
        (3, wav(b"\x01\x00\x02")),  # odd data chunk (truncated)
        (4, b"not a wav"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["n_samples"], r["sumsq"])
           for r in wav_pcm_stats(df).collect()}
    assert got[1] == (2, 5)
    assert got[2] == (None, None)
    assert got[3] == (1, 1)  # truncated tail byte trimmed, 1 sample
    assert got[4] == (None, None)


def test_jpeg_fill_bytes_before_marker_parsed():
    """JPEG B.1.1.2 allows any number of 0xFF fill bytes before a
    marker code; the walk previously read a bogus segment length there
    and lost the dimensions of a well-formed image."""
    from kafka_firehose_nozzle_spark.operators.multimodal import (
        parse_image_header,
    )

    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0\x00\x11\x08" + (480).to_bytes(2, "big") + (
        640
    ).to_bytes(2, "big") + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    # three fill 0xFF bytes between APP0 and SOF0
    jpeg = b"\xff\xd8" + app0 + b"\xff\xff\xff" + sof0
    assert parse_image_header(jpeg) == ("jpeg", 640, 480)


def test_pq_encode_broadcast_matches_literal(spark):
    """pq_encode's above-cap broadcast path must emit IDENTICAL codes
    to the literal path on the real corpus, as a zero-shuffle
    ArrowEvalPython map (the ivf_assign gate, applied to the PQ
    codebook's dim x num_codes literal exposure)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = S.pq_codebook(emb, num_sub=4, num_codes=16, dim=64)
    lit = {
        r["vec_id"]: list(r["codes"])
        for r in S.pq_encode(emb, cb, num_sub=4, num_codes=16, dim=64,
                             mode="literal").collect()
    }
    bcd = S.pq_encode(emb, cb, num_sub=4, num_codes=16, dim=64,
                      mode="broadcast")
    got = {r["vec_id"]: list(r["codes"]) for r in bcd.collect()}
    assert got == lit and len(lit) > 0

    plan = bcd._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    # NULL embeddings encode to NULL codes, not a crash
    null_df = spark.createDataFrame(
        [(0, None)], "vec_id bigint, embedding array<double>"
    )
    assert (
        S.pq_encode(null_df, cb, num_sub=4, num_codes=16, dim=64,
                    mode="broadcast").first()["codes"]
        is None
    )
