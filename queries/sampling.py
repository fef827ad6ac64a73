"""Sampling and selection queries over ``operators.sampling`` and
``operators.selection``: stratified, hash-fraction and capped samples,
exact order statistics and corpus-curation plans."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import sampling as SA
from kafka_firehose_nozzle_spark.operators import text as TX

from ._base import _t, query
from .text import _TOKS

ORACLE_STRATIFIED = """
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
            ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS rk
        FROM documents) t
    WHERE rk <= 5
"""


@query(ORACLE_STRATIFIED)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 5 documents per language by md5
    hash rank — reproducible on any engine at any parallelism."""
    from kafka_firehose_nozzle_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", 5).select("lang", "doc_id")


ORACLE_HASH_FRACTION = """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT * 100
          < 65536 * 20
"""


@query(ORACLE_HASH_FRACTION)
def q_hash_fraction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% document sample: shuffle-free hash filter that
    evaluates inside the scan stage."""
    from kafka_firehose_nozzle_spark.operators.sampling import hash_fraction_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_fraction_sample(docs, "doc_id", 20).select("doc_id", "lang")


ORACLE_DOMAIN_CAP = """
    SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents) r
    WHERE rk <= 20
"""


@query(ORACLE_DOMAIN_CAP)
def q_domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation frequency cap: at most 20 documents per source,
    best-first by length (n_chars DESC, doc_id tiebreak) — the guard
    that stops a handful of giant domains from dominating a training
    mix.  One shuffle on source; skewed sources emit at most cap rows
    each (operators/sampling.py::cap_per_group)."""
    from kafka_firehose_nozzle_spark.operators import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    return SA.cap_per_group(
        docs, "source", [F.desc("n_chars"), F.col("doc_id")], 20
    ).select("doc_id", "source", "n_chars")


ORACLE_CURATION = f"""
    WITH t AS (SELECT doc_id, source, text,
        list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')
            AS rtoks
    FROM documents),
    m AS (SELECT doc_id, source, text,
        len(rtoks) AS n_tok,
        len(list_filter(list_transform(rtoks, x -> lower(x)),
            x -> list_contains(
                ['the','a','of','to','and','in','is','it','for','on'], x)))
            AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(rtoks, x -> length(x))) AS tok_chars
    FROM t),
    passed AS (SELECT doc_id, source, text FROM m
        WHERE (n_tok >= 10 AND n_tok <= 100000)
          AND (n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01)
          AND (n_chars = 0
               OR CAST(n_chars - n_nopunct AS DOUBLE) / n_chars <= 0.2)
          AND (n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
               AND CAST(tok_chars AS DOUBLE) / n_tok <= 12)),
    deduped AS (SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ',
            'g')))) ORDER BY doc_id) AS rn FROM passed) d WHERE rn = 1),
    capped AS (SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text, ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM deduped) c WHERE rk <= 30),
    chunked AS (SELECT source,
        CAST(GREATEST(1, CEIL((len({_TOKS}) - 64) / 56.0) + 1) AS BIGINT)
            AS n_chunks
    FROM capped)
    SELECT source, COUNT(*) AS docs_kept,
        CAST(SUM(n_chunks) AS BIGINT) AS total_chunks
    FROM chunked GROUP BY source
"""


@query(ORACLE_CURATION)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the full pre-training prep chain in
    one plan: Gopher-style quality gates (the funnel's g1..g4) ->
    exact dedup (keep min id per content fingerprint) -> per-source
    frequency cap (30 best by md5 rank) -> chunk arithmetic; reported
    per source as (docs kept, chunks produced). Every stage is an
    operator the registry checks in isolation; this query proves they
    COMPOSE — one plan, three shuffles (dedup agg, source-cap window,
    final rollup), no driver loop."""
    from kafka_firehose_nozzle_spark.operators.sampling import (
        cap_per_group,
        hash_rank,
    )

    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n_tok = TX.token_count(text)
    g1 = (n_tok >= 10) & (n_tok <= 100000)
    g2 = g1 & (TX.stopword_ratio(text) >= 0.01)
    g3 = g2 & (TX.punct_ratio(text) <= 0.2)
    wl = TX.avg_word_len(text)
    g4 = g3 & (wl >= 2) & (wl <= 12)
    passed = docs.filter(g4)
    from pyspark.sql import Window

    fp = F.md5(TX.normalize_text(text))
    wded = Window.partitionBy("_fp").orderBy("doc_id")
    deduped = (
        passed.withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(wded))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )
    capped = cap_per_group(
        deduped, "source", [hash_rank(F.col("doc_id")), F.col("doc_id")], 30
    )
    toks = TX.tokens(TX.normalize_text(text))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(64)) / F.lit(56)) + 1
    ).cast("long")
    return (
        capped.withColumn("n_chunks", n_chunks)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_chunks").alias("total_chunks"),
        )
    )


ORACLE_DSIR = f"""
    WITH raw_toks AS (
        SELECT doc_id,
            ('0x' || substr(md5(tok || '#dsir'), 1, 15))::BIGINT % 1024 AS b
        FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)),
    tgt_toks AS (
        SELECT ('0x' || substr(md5(tok || '#dsir'), 1, 15))::BIGINT % 1024 AS b
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents
              WHERE lang = 'en')),
    nr AS (SELECT COUNT(*) AS n FROM raw_toks),
    nt AS (SELECT COUNT(*) AS n FROM tgt_toks),
    rb AS (SELECT b, COUNT(*) AS cr FROM raw_toks GROUP BY b),
    tb AS (SELECT b, COUNT(*) AS ct FROM tgt_toks GROUP BY b),
    ratios AS (SELECT COALESCE(rb.b, tb.b) AS b,
        CAST(ln((COALESCE(ct, 0) + 1) / CAST(nt.n + 1024 AS DOUBLE))
             - ln((COALESCE(cr, 0) + 1) / CAST(nr.n + 1024 AS DOUBLE))
             AS DECIMAL(20,6)) AS term
        FROM rb FULL OUTER JOIN tb ON rb.b = tb.b
        CROSS JOIN nr CROSS JOIN nt)
    SELECT doc_id, COUNT(*) AS n_toks,
        {DET.det_round_sql('CAST(SUM(term) AS DOUBLE)', 4)} AS log_weight
    FROM raw_toks JOIN ratios USING (b)
    GROUP BY doc_id
"""


@query(ORACLE_DSIR)
def q_dsir_log_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram importance weights (Xie et al. 2023): score
    every raw document by how target-like its token distribution is —
    the importance-resampling recipe for tilting a 100 TB crawl toward
    a quality target.  Target split here: lang='en' documents; raw: the
    whole corpus.  See operators/sampling.py::dsir_log_weights for the
    scale shape (two B-row bucket tables, broadcast log-ratio join)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return SA.dsir_log_weights(docs, target)


ORACLE_EXACT_MEDIAN = """
    WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM v)
    SELECT n.n AS n, (n.n + 1) // 2 AS k,
        (SELECT x FROM v ORDER BY x
         LIMIT 1 OFFSET ((SELECT n FROM n) + 1) // 2 - 1) AS median
    FROM n
"""


@query(ORACLE_EXACT_MEDIAN)
def q_exact_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (lower) median of l_extendedprice by iterative histogram
    narrowing — exact selection WITHOUT a global sort (the 100 TB
    shape: each round is a predicate-pushed scan + a <=1024-row count
    histogram; the driver sees histograms and bounds, never data).
    tail_rows=2000 forces the histogram path at every tested SF so the
    oracle checks the narrowing logic, not just the bounded-sort
    finish.  See operators/selection.py::exact_kth."""
    from kafka_firehose_nozzle_spark.operators.selection import exact_median

    li = _t(spark, sf_dir, "lineitem")
    # n and k come from the selection's own initial aggregate — a
    # separate count() here would be one extra full scan
    n, k, med = exact_median(li, "l_extendedprice", tail_rows=2000)
    return spark.createDataFrame(
        [(n, k, med)], "n bigint, k bigint, median double"
    )


ORACLE_SPAN_PLAN = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) >= 1),
    g AS (SELECT doc_id, n, unnest(range(0, n, 5)) AS p FROM n),
    sel AS (SELECT doc_id, n, p FROM g
            WHERE ('0x' || substr(md5(doc_id || ':' || p), 1, 8))::BIGINT
                  % 4 = 0),
    agg AS (SELECT doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_spans,
            CAST(SUM(LEAST(3, n - p)) AS BIGINT) AS n_masked
           FROM sel GROUP BY doc_id)
    SELECT n.doc_id, CAST(n AS BIGINT) AS n_tokens,
        COALESCE(n_spans, 0) AS n_spans,
        COALESCE(n_masked, 0) AS n_masked,
        COALESCE(n_masked, 0) * 1000000 // n AS mask_ppm
    FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
"""


@query(ORACLE_SPAN_PLAN)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption masking plan: deterministic hash-gated span
    starts on a stride-5 grid (non-overlap by construction), ~15%
    expected mask rate, exact integer accounting.  See
    operators/sampling.py::span_corruption_plan."""
    return SA.span_corruption_plan(_t(spark, sf_dir, "documents"))


ORACLE_FD_PLAN = f"""
    WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS x
        FROM orders WHERE o_totalprice IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            MIN(x) AS lo, MAX(x) AS hi FROM v),
    q AS (SELECT
        (SELECT x FROM v ORDER BY x LIMIT 1
            OFFSET GREATEST(((SELECT n FROM n) + 1) // 4, 1) - 1)
            AS q1,
        (SELECT x FROM v ORDER BY x LIMIT 1
            OFFSET LEAST((3 * (SELECT n FROM n) + 3) // 4,
                (SELECT n FROM n)) - 1) AS q3)
    SELECT n.n AS n, q1, q3,
        {DET.det_round_sql(
            "2.0 * (q3 - q1) / cbrt(CAST(n.n AS DOUBLE))", 6)}
            AS fd_width,
        CAST(FLOOR((hi - lo) / {DET.det_round_sql(
            "2.0 * (q3 - q1) / cbrt(CAST(n.n AS DOUBLE))", 6)})
            + 1 AS BIGINT) AS n_bins
    FROM n CROSS JOIN q
"""


# ---------------------------------------------------------------- wave 8a
@query(ORACLE_FD_PLAN)


def q_fd_histogram_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman-Diaconis histogram planning for order values: exact
    Q1/Q3 via the iterative-histogram selection operator (the 100 TB
    exact-quantile path — driver sees <=1024-row histograms, never
    data), then the FD bin width 2*IQR/cbrt(n) and the implied bin
    count over the exact min/max range.  The binning-decision every
    histogram/quantile-sketch consumer upstream of this engine makes
    by rule of thumb, here made from exact order statistics.

    Scale shape: exact_kth's predicate-pushed narrowing scans (bounded
    driver state) twice, one 1-row min/max agg; closed form after."""
    from kafka_firehose_nozzle_spark.operators.selection import exact_kth

    o = _t(spark, sf_dir, "orders")
    n_row = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    ).head()
    n, lo, hi = n_row["n"], n_row["lo"], n_row["hi"]
    q1 = exact_kth(o, "o_totalprice", max((n + 1) // 4, 1))
    q3 = exact_kth(o, "o_totalprice", min((3 * n + 3) // 4, n))
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(q1).cast("double").alias("q1"),
        F.lit(q3).cast("double").alias("q3"),
        DET.det_round(
            F.lit(2.0) * (F.lit(q3) - F.lit(q1))
            / F.expr(f"cbrt(CAST({n} AS DOUBLE))"),
            6,
        ).alias("fd_width"),
        F.expr(
            f"CAST(FLOOR((CAST({hi!r} AS DOUBLE) - CAST({lo!r} AS"
            " DOUBLE)) / "
            + DET.det_round_sql(
                f"2.0 * (CAST({q3!r} AS DOUBLE) - CAST({q1!r} AS"
                f" DOUBLE)) / cbrt(CAST({n} AS DOUBLE))", 6
            )
            + ") + 1 AS BIGINT)"
        ).alias("n_bins"),
    )
