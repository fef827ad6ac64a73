"""Corpus text queries over ``operators.text``: tokenization, n-gram and
vocabulary statistics, language ID, quality scoring, BM25/TF-IDF
retrieval, BPE and the text-classifier evaluations."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions import detmath as DET
from kafka_firehose_nozzle_spark.operators import text as TX

from ._base import _avg_micro_expr, _parquet_nrows, _pure_plan, _t, query

# oracle fragment: normalized whitespace tokens of a text column
_TOKS = (
    "list_filter(string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),"
    " '\\s+'), x -> x <> '')"
)


ORACLE_DOC_STATS = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id, len(toks) AS n_tokens,
        len(list_filter(toks, x -> list_contains(
            ['the','a','of','to','and','in','is','it','for','on'], x))) AS n_stopwords,
        length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
            AS avg_word_len
    FROM t
"""


@query(ORACLE_DOC_STATS)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, stopword hits, punctuation, word len."""
    docs = _t(spark, sf_dir, "documents")
    text = TX.normalize_text(F.col("text"))
    toks = TX.tokens(text)
    total_len = F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(TX.STOPWORDS))).alias("n_stopwords"),
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
        ).alias("n_punct"),
        (total_len.cast("double") / F.size(toks)).alias("avg_word_len"),
    )


ORACLE_LANG_PRED = f"""
    WITH t AS (SELECT list_slice({_TOKS}, 1, 64) AS toks FROM documents),
    h AS (SELECT
        len(list_filter(toks, x -> list_contains(['the','and','of','is','to'], x))) AS en,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
        len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS fr,
        len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS es
    FROM t)
    SELECT CASE
        WHEN de > en AND de >= fr AND de >= es THEN 'de'
        WHEN fr > en AND fr >= es THEN 'fr'
        WHEN es > en THEN 'es'
        ELSE 'en' END AS lang_pred, COUNT(*) AS n
    FROM h GROUP BY 1
"""


@query(ORACLE_LANG_PRED)
def q_lang_pred_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic -> documents per predicted language."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TX.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_DOC_FINGERPRINTS = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
        CASE WHEN len(toks) >= 8 THEN
            list_min(list_transform(range(len(toks) - 7), i ->
                ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')),
                                1, 15))::BIGINT))
        ELSE ('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT
        END AS rolling_fp
    FROM t
"""


@query(ORACLE_DOC_FINGERPRINTS)
@_pure_plan
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 + winnowing-style rolling-hash minimum."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.rolling_hash_fingerprint(F.col("text"), 8).alias("rolling_fp"),
    )


ORACLE_PII = """
    WITH d AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com at 10.0.'
             || (doc_id % 256) || '.7 or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-001'
            AS dirty FROM documents),
    s AS (SELECT doc_id, dirty,
        regexp_replace(regexp_replace(regexp_replace(dirty,
            '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
            '\\+\\d[\\d\\-]{7,}\\d', '<PHONE>', 'g') AS clean_text
        FROM d)
    SELECT doc_id, clean_text,
        length(dirty) - length(clean_text) AS chars_removed
    FROM s
"""


@query(ORACLE_PII)
def q_pii_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents with synthesized contact lines (the
    corpus itself has none): emails, IPv4, phone numbers -> placeholders.
    Pure regexp_replace chain — codegen'd, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.format_string(
            " contact user%d@example.com at 10.0.%d.7 or +1-555-%04d-001",
            F.col("doc_id"),
            F.pmod(F.col("doc_id"), F.lit(256)),
            F.pmod(F.col("doc_id"), F.lit(10000)),
        ),
    )
    # Stage dirty and the scrubbed text each in their own projection so
    # the 3-regex chain runs once per row, not once per referencing
    # expression (CollapseProject keeps multiply-referenced non-cheap
    # expressions staged).
    return (
        docs.select("doc_id", dirty.alias("_dirty"))
        .withColumn("clean_text", TX.scrub_pii(F.col("_dirty")))
        .select(
            "doc_id",
            "clean_text",
            (F.length("_dirty") - F.length("clean_text")).alias("chars_removed"),
        )
    )


# oracle fragment: word 3-grams of the normalized tokens (matches
# operators.text.word_ngrams(n=3))
_GRAMS3 = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(range(len(toks) - 2), "
    "i -> array_to_string(toks[i + 1:i + 3], ' ')) "
    "ELSE [array_to_string(toks, ' ')] END"
)


ORACLE_REPETITION = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_GRAMS3} AS grams FROM t)
    SELECT doc_id,
        (FLOOR((1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
            AS rep_3gram
    FROM g
"""


@query(ORACLE_REPETITION)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition (1 - distinct/total word 3-grams): the
    boilerplate/looped-generation quality gate. Pure column expressions,
    fused into the scan."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.repetition_score(F.col("text"), 3).alias("rep_3gram")
    )


ORACLE_CONTAINMENT = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_GRAMS3} AS grams FROM t),
    tr AS (SELECT DISTINCT unnest(list_distinct(grams)) AS gram FROM g
           WHERE doc_id % 5 <> 0),
    te AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g
           WHERE doc_id % 5 = 0),
    m AS (SELECT doc_id, COUNT(*) AS mt FROM te
          WHERE gram IN (SELECT gram FROM tr) GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS tt FROM te GROUP BY doc_id)
    SELECT tot.doc_id,
        (FLOOR((COALESCE(mt, 0) / CAST(tt AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0) AS containment
    FROM tot LEFT JOIN m ON tot.doc_id = m.doc_id
"""


@query(ORACLE_CONTAINMENT)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: per held-out doc (doc_id % 5 = 0), the
    fraction of its distinct word 3-grams found anywhere in the train
    split. Explode + hash semi-join + partial-agg count — never a
    pairwise doc comparison."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    test = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    return TX.ngram_containment(train, test)


ORACLE_UNIGRAM = f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM t)
    SELECT t.doc_id, COUNT(*) AS n_toks,
        (FLOOR((CAST(SUM(CAST(ln(freq.cnt / tot.total) AS DECIMAL(20,6)))
                   AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5) / 10000.0)
            AS avg_logprob
    FROM t JOIN freq ON t.tok = freq.tok CROSS JOIN tot
    GROUP BY t.doc_id
"""


@query(ORACLE_UNIGRAM)
def q_unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality score: per document, the mean ln
    probability of its tokens under the corpus unigram model (the
    KenLM-style filter's simplest form — rare-token-heavy docs score
    low). Each ln(c/T) term routes through DECIMAL(20,6) before the
    per-doc sum, so the aggregation is order-independent AND a last-ulp
    libm ln() difference cannot survive (1e-6 granularity vs ~1e-15
    ulps). Scale shape: one token-cardinality aggregation for the
    vocabulary, a frequency join (broadcastable vocab is the knob at
    100 TB), one per-doc partial agg."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.count()
    term = F.log(F.col("cnt").cast("double") / F.lit(float(total))).cast(
        "decimal(20,6)"
    )
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            DET.det_round(
                F.sum(term).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_logprob"),
        )
    )


ORACLE_DOC_CHUNKS = f"""
    WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    c AS (SELECT doc_id,
              CAST(GREATEST(1, CEIL((n - 64) / 56.0) + 1) AS INT) AS nc, n
          FROM t)
    SELECT doc_id, CAST(i AS INT) AS chunk_ix,
           CAST(LEAST(n - i * 56, 64) AS INT) AS chunk_tokens
    FROM c, UNNEST(range(nc)) AS u(i)
"""


@query(ORACLE_DOC_CHUNKS)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training: split each doc into 64-token
    chunks with 8-token overlap (stride 56); per chunk emit its index
    and token count. Pure map + explode — the chunk boundaries are
    arithmetic over the token array, so the whole op fuses into the
    scan and shards perfectly at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    n = F.size(toks)
    size, stride = 64, 56
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(size)) / F.lit(stride)) + 1
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.least(n - i * stride, F.lit(size)),
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_ix", "chunk_tokens")
    )


_NORM80 = "substr(lower(trim(regexp_replace({src}, '\\s+', ' ', 'g'))), 1, 80)"

_NORM80_A = _NORM80.format(src="text")

_NORM80_B = _NORM80.format(src="regexp_replace(text, '\\s+\\S+\\s*$', '')")

ORACLE_EDIT_DISTANCE = f"""
    WITH t AS (SELECT doc_id,
        {_NORM80_A} AS a,
        {_NORM80_B} AS b
    FROM documents)
    SELECT doc_id, levenshtein(a, b) AS edit_dist,
        (FLOOR((CASE WHEN GREATEST(LENGTH(a), LENGTH(b)) = 0 THEN 1.0
              ELSE 1.0 - levenshtein(a, b)
                   / CAST(GREATEST(LENGTH(a), LENGTH(b)) AS DOUBLE) END)
            * 1000000.0 + 0.5) / 1000000.0)
            AS edit_sim
    FROM t
"""


@query(ORACLE_EDIT_DISTANCE)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit distance between each document and its
    planted mutant (last word removed), on the first 80 normalized
    chars: levenshtein + a length-normalized similarity. Exercises the
    string-similarity function family (both engines implement the same
    Wagner-Fischer levenshtein); the truncation bounds the O(len^2) DP
    per row, which is the knob that keeps this scan-shaped at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.substring(TX.normalize_text(F.col("text")), 1, 80)
    mut = F.substring(
        TX.normalize_text(
            F.regexp_replace(F.col("text"), r"\s+\S+\s*$", "")
        ),
        1,
        80,
    )
    d = F.levenshtein(norm, mut)
    mx = F.greatest(F.length(norm), F.length(mut))
    return docs.select(
        "doc_id",
        d.alias("edit_dist"),
        DET.det_round(
            F.when(mx == 0, F.lit(1.0)).otherwise(1.0 - d / mx), 6
        ).alias("edit_sim"),
    )


_NORM_MD5 = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

ORACLE_INCREMENTAL_DEDUP = f"""
    WITH store AS (SELECT DISTINCT {_NORM_MD5} AS fp FROM documents
                   WHERE doc_id % 5 <> 0),
    inc AS (SELECT doc_id, {_NORM_MD5} AS fp FROM documents
            WHERE doc_id % 5 = 0),
    first AS (SELECT doc_id, fp FROM (
        SELECT doc_id, fp, ROW_NUMBER() OVER (PARTITION BY fp
                                              ORDER BY doc_id) AS rn
        FROM inc) r WHERE rn = 1)
    SELECT doc_id FROM first WHERE fp NOT IN (SELECT fp FROM store)
"""


@query(ORACLE_INCREMENTAL_DEDUP)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion dedup: an incoming batch (held-out
    split) is admitted only if its content fingerprint (a) isn't already
    in the existing corpus's fingerprint store and (b) is the first
    occurrence within the batch (min doc_id wins). The store side is
    fingerprints only — at 100 TB that's the compact state a pipeline
    keeps between ingestion runs, and the admission check is an anti-join
    against it, never a scan of stored documents."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    store = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
        .select(TX.fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    inc = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    first = (
        inc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return first.join(store, "fp", "left_anti").select("doc_id")


_BLOOM_POS_EXPRS = ", ".join(
    f"CAST(('0x' || substr(md5(gram || '#{101 + j}'), 1, 15)) AS BIGINT) % 65536"
    for j in range(4)
)

ORACLE_BLOOM = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, list_distinct({_GRAMS3}) AS grams FROM t),
    tr AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 5 <> 0),
    trpos AS (SELECT DISTINCT pos FROM
        (SELECT unnest([{_BLOOM_POS_EXPRS}]) AS pos FROM tr)),
    te AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 5 = 0),
    tepos AS (SELECT doc_id, gram, unnest([{_BLOOM_POS_EXPRS}]) AS pos FROM te),
    mb AS (SELECT doc_id, COUNT(*) AS n_maybe FROM (
        SELECT doc_id, gram FROM tepos
        WHERE pos IN (SELECT pos FROM trpos)
        GROUP BY doc_id, gram HAVING COUNT(*) = 4) q GROUP BY doc_id),
    ex AS (SELECT doc_id, COUNT(*) AS n_exact FROM te
           WHERE gram IN (SELECT gram FROM tr) GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM te GROUP BY doc_id)
    SELECT tot.doc_id, tot.n_grams,
        COALESCE(mb.n_maybe, 0) AS n_maybe,
        COALESCE(ex.n_exact, 0) AS n_exact,
        COALESCE(mb.n_maybe, 0) - COALESCE(ex.n_exact, 0) AS n_false_pos
    FROM tot LEFT JOIN mb ON tot.doc_id = mb.doc_id
             LEFT JOIN ex ON tot.doc_id = ex.doc_id
"""


@query(ORACLE_BLOOM)
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination audit on the same train/test split as
    ngram_containment: per held-out doc, total 3-grams, Bloom maybe-hits
    (m=65536, k=4), exact hits, and false positives. The filter is a
    broadcast-sized position table regardless of train-corpus size —
    the 100 TB replacement for the full-gram semi-join."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    test = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    return TX.bloom_contamination(train, test)


ORACLE_TOKEN_COUNTS = """
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
    FROM documents)
    SELECT doc_id, len(ws) AS n_ws_tokens,
        CAST(list_sum(list_transform(words, w ->
            CASE WHEN length(w) <= 4 THEN 1
                 ELSE CAST(ceil(length(w) / 4.0) AS BIGINT) END)) AS INT)
            AS n_bpe_ish
    FROM t
"""


@query(ORACLE_TOKEN_COUNTS)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
    )


ORACLE_QUALITY = """
    WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT doc_id,
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)), x -> list_contains(
            ['the','a','of','to','and','in','is','it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t)
    SELECT doc_id, (
        (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) +
        (CASE WHEN n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01 THEN 1.0 ELSE 0.0 END) +
        (CASE WHEN n_chars = 0 OR CAST(n_chars - n_nopunct AS DOUBLE) / n_chars <= 0.2 THEN 1.0 ELSE 0.0 END) +
        (CASE WHEN n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
                   AND CAST(tok_chars AS DOUBLE) / n_tok <= 12 THEN 1.0 ELSE 0.0 END)
    ) / 4.0 AS quality
    FROM m
"""


@query(ORACLE_QUALITY)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    )


ORACLE_FUNNEL = """
    WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT doc_id,
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)), x -> list_contains(
            ['the','a','of','to','and','in','is','it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    g AS (SELECT
        (n_tok >= 10 AND n_tok <= 100000) AS g1,
        (n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01) AS s2,
        (n_chars = 0 OR CAST(n_chars - n_nopunct AS DOUBLE) / n_chars <= 0.2) AS s3,
        (n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
             AND CAST(tok_chars AS DOUBLE) / n_tok <= 12) AS s4
    FROM m)
    SELECT COUNT(*) AS n_total,
        CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_length,
        CAST(SUM(CASE WHEN g1 AND s2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
        CAST(SUM(CASE WHEN g1 AND s2 AND s3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_punct,
        CAST(SUM(CASE WHEN g1 AND s2 AND s3 AND s4 THEN 1 ELSE 0 END) AS BIGINT)
            AS pass_wordlen
    FROM g
"""


@query(ORACLE_FUNNEL)
def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative quality-gate funnel: how many documents survive each
    successive Gopher-style filter (length -> stopwords -> punctuation ->
    word length).  The per-gate attrition report a corpus curation run
    publishes before committing a filter config.  Pure map indicators +
    one single-row aggregation — fuses into the scan at any scale."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n_tok = TX.token_count(text)
    g1 = (n_tok >= 10) & (n_tok <= 100000)
    g2 = g1 & (TX.stopword_ratio(text) >= 0.01)
    g3 = g2 & (TX.punct_ratio(text) <= 0.2)
    wl = TX.avg_word_len(text)
    g4 = g3 & (wl >= 2) & (wl <= 12)
    return docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(g1.cast("long")).alias("pass_length"),
        F.sum(g2.cast("long")).alias("pass_stopword"),
        F.sum(g3.cast("long")).alias("pass_punct"),
        F.sum(g4.cast("long")).alias("pass_wordlen"),
    )


_BM25_TERMS = ["table", "spark", "query"]

_BM25_K1, _BM25_B = 1.2, 0.75


# CTE chain shared with the RRF-fusion oracle (which ranks bm25_out)
_BM25_CTES = f"""
    t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
           WHERE term IN ('table', 'spark', 'query') GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    c AS (SELECT tf.doc_id,
              (FLOOR((ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                  * (tf.tf * ({_BM25_K1} + 1)
                     / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B}
                        * dl.dl / stats.avgdl))))
                  * 100000000.0 + 0.5) / 100000000.0) AS contrib
          FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
          CROSS JOIN stats CROSS JOIN n),
    bm25_out AS (SELECT doc_id, COUNT(*) AS n_terms_hit,
        (FLOOR(CAST(SUM(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0) AS bm25
    FROM c GROUP BY doc_id)
"""

ORACLE_BM25 = (
    "WITH " + _BM25_CTES + " SELECT doc_id, n_terms_hit, bm25 FROM bm25_out"
)


@query(ORACLE_BM25)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed 3-term query —
    the inverted-index scoring shape: explode to (doc, term) postings,
    partial-agg tf at posting cardinality, df at term cardinality
    (3 rows -> broadcast), corpus length stats via a broadcast single-row
    crossJoin (never a driver-side collect on the data path).  Scores
    use ln() so the emitted value is det-rounded; ranking is by the
    rounded score with a doc_id tie-break (libm-safe)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = _parquet_nrows(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("term"),
    )
    # doc lengths + corpus mean length (exact integer sum / exact count)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    contrib = idf * (
        F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.sum(DET.det_round(contrib, 8).cast("decimal(20,8)")).alias(
                "_s"
            ),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .select(
            "doc_id",
            "n_terms_hit",
            DET.det_round(F.col("_s").cast("double"), 6).alias("bm25"),
        )
    )


ORACLE_CHAR_TRIGRAMS = """
    WITH t AS (SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                   AS s FROM documents),
    g AS (SELECT unnest(list_transform(range(length(s) - 2),
                     i -> substr(s, i + 1, 3))) AS trigram
          FROM t WHERE length(s) >= 3)
    SELECT trigram, COUNT(*) AS n FROM g
    GROUP BY trigram ORDER BY n DESC, trigram LIMIT 30
"""


@query(ORACLE_CHAR_TRIGRAMS)
def q_char_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 character trigrams of the normalized corpus — the input
    statistic for byte/char-level tokenizer training.  Same staged
    shifted-slice zip_with shape as the word-bigram query (the
    per-position substring alternative rescans the string per call);
    explode -> partial-agg -> TakeOrdered 30."""
    docs = _t(spark, sf_dir, "documents")
    chars = F.split(TX.normalize_text(F.col("text")), "")
    m = F.size(F.col("_c")) - 2
    tri = F.when(
        m >= 1,
        F.zip_with(
            F.zip_with(
                F.slice(F.col("_c"), 1, m),
                F.slice(F.col("_c"), 2, m),
                lambda a, b: F.concat(a, b),
            ),
            F.slice(F.col("_c"), 3, m),
            lambda ab, c: F.concat(ab, c),
        ),
    ).otherwise(F.lit(None).cast("array<string>"))
    return (
        docs.select(chars.alias("_c"))
        .select(F.explode_outer(tri).alias("trigram"))
        .filter(F.col("trigram").isNotNull())
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(30)
    )


ORACLE_BIGRAM_TOPK = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    b AS (SELECT unnest(list_transform(range(len(toks) - 1), i ->
               array_to_string(list_slice(toks, i + 1, i + 2), ' '))) AS bigram
          FROM t WHERE len(toks) >= 2)
    SELECT bigram, COUNT(*) AS n FROM b
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
"""


@query(ORACLE_BIGRAM_TOPK)
@_pure_plan
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams. explode -> partial-aggregated
    count -> TakeOrdered 20 (no global sort); at 100 TB the map-side
    combine keeps the shuffle at distinct-bigram, not token, cardinality.

    Round-4 rewrite (VERDICT r3 item 7, the 3.1x sf1 grower): the old
    positions-transform called ``F.slice(toks, i+1, 2)`` INSIDE the
    lambda, and interpreted HOFs re-evaluate their array argument per
    call — the same O(tokens^2) trap the MinHash shingle path hit in r3.
    Now the token array is staged through its own projection
    (CollapseProject keeps multiply-referenced non-cheap expressions
    staged) and pairs come from zip_with over two shifted slices, which
    evaluates each slice once per ROW.  explode_outer avoids the
    generator's implicit ``size(arr) > 0`` pushdown filter that would
    substitute the whole zip_with chain below the scan (SCALE.md
    round-1 finding); short docs surface as one NULL row filtered right
    after the generator."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    m = F.size(F.col("toks")) - 1
    bigrams = F.when(
        m >= 1,
        F.zip_with(
            F.slice(F.col("toks"), 1, m),
            F.slice(F.col("toks"), 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.lit(None).cast("array<string>"))
    return (
        docs.select(toks.alias("toks"))
        .select(F.explode_outer(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


ORACLE_LANG_CONFUSION = f"""
    WITH t AS (SELECT lang, list_slice({_TOKS}, 1, 64) AS toks FROM documents),
    h AS (SELECT lang,
        len(list_filter(toks, x -> list_contains(['the','and','of','is','to'], x))) AS en,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de,
        len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS fr,
        len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS es
    FROM t)
    SELECT lang, CASE
        WHEN de > en AND de >= fr AND de >= es THEN 'de'
        WHEN fr > en AND fr >= es THEN 'fr'
        WHEN es > en THEN 'es'
        ELSE 'en' END AS lang_pred, COUNT(*) AS n
    FROM h GROUP BY 1, 2
"""


@query(ORACLE_LANG_CONFUSION)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: ground-truth ``lang`` column vs the
    n-gram-heuristic prediction."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_SOURCE_PROFILE = """
    WITH t AS (SELECT source, lang, n_chars,
        len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))
            AS n_toks
    FROM documents),
    g AS (SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
                 SUM(n_chars) AS sum_chars, SUM(n_toks) AS total_tokens
          FROM t GROUP BY source)
    SELECT source, n_docs, n_langs,
        CAST((sum_chars // n_docs) * 1000000
             + ((sum_chars % n_docs) * 2000000 + n_docs) // (2 * n_docs)
             AS DOUBLE)
            / 1000000.0 AS avg_chars,
        CAST(total_tokens AS BIGINT) AS total_tokens
    FROM g
"""


@query(ORACLE_SOURCE_PROFILE)
def q_source_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: doc count, distinct languages, exact
    decimal-summed avg length, total whitespace tokens."""
    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select(
            "source",
            "lang",
            "n_chars",
            TX.token_count(F.col("text")).alias("n_toks"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("lang")).alias("n_langs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )
    # BIGINT half-up micro-units average — see q_props_json_stats for the
    # determinism argument (no ROUND on DOUBLE anywhere in the pipeline).
    avg_micro = _avg_micro_expr("sum_chars", "n_docs")
    return g.select(
        "source",
        "n_docs",
        "n_langs",
        (avg_micro.cast("double") / F.lit(1000000.0)).alias("avg_chars"),
        "total_tokens",
    )


ORACLE_TOKEN_POSITIONS = f"""
    WITH t AS (SELECT doc_id, list_slice({_TOKS}, 1, 5) AS toks
               FROM documents)
    SELECT doc_id, u.i AS pos, toks[u.i + 1] AS token
    FROM t, unnest(range(len(toks))) AS u(i)
"""


@query(ORACLE_TOKEN_POSITIONS)
def q_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (posexplode / unnest-with-index): first 5
    normalized tokens of each document with their position."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.slice(TX.tokens(TX.normalize_text(F.col("text"))), 1, 5)
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    )


ORACLE_RARE_TERMS = f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    g AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
          FROM t GROUP BY term)
    SELECT term, tf, df FROM g WHERE df <= (SELECT COUNT(*) / 5 FROM documents)
    ORDER BY tf DESC, term LIMIT 25
"""


@query(ORACLE_RARE_TERMS)
def q_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-rare terms: tokens appearing in at most 1/5th of documents,
    ranked by total occurrences. Integer-only outputs (hash-safe); the
    shuffle is at distinct-term cardinality after partial aggregation."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    # scale-relative rarity threshold (docs/5) via a broadcast scalar —
    # no driver-side action, works at any corpus size
    thr = docs.agg((F.count(F.lit(1)) / 5).alias("_thr"))
    return (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .join(F.broadcast(thr))
        .filter(F.col("df") <= F.col("_thr"))
        .drop("_thr")
        .orderBy(F.desc("tf"), "term")
        .limit(25)
    )


ORACLE_TFIDF = f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
               (FLOOR((tf.tf * ln(CAST((SELECT COUNT(*) FROM documents)
                                     AS DOUBLE) / df.df))
                      * 1000000.0 + 0.5) / 1000000.0) AS score
           FROM tf JOIN df USING (term)),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rk FROM sc)
    SELECT doc_id, term, tf, df, score, rk FROM r WHERE rk <= 3
"""


@query(ORACLE_TFIDF)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF (tf * ln(N/df)).

    Plan shape: one explode -> (doc, term) partial-agg for tf, a second
    partial-agg for df at term cardinality, an equi-join tf x df, and a
    per-doc top-3 window. Ranking uses the ROUNDED score (6dp) with a
    term tie-break so a last-ulp ln() difference between engine libms
    can't reorder near-equal terms."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        DET.det_round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


ORACLE_VOCAB = f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    vocab AS (SELECT cnt FROM counts ORDER BY cnt DESC, tok LIMIT 500),
    tot AS (SELECT SUM(cnt) AS total_occ, COUNT(*) AS n_types FROM counts),
    cov AS (SELECT SUM(cnt) AS covered_occ FROM vocab)
    SELECT 500 AS vocab_size,
           CAST(covered_occ AS BIGINT) AS covered_occ,
           CAST(total_occ AS BIGINT) AS total_occ,
           CAST(n_types AS BIGINT) AS n_types,
           CAST((covered_occ * 1000000) // total_occ AS BIGINT)
               AS coverage_ppm
    FROM cov CROSS JOIN tot
"""


@query(ORACLE_VOCAB)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary report: build the top-500 token vocab
    by corpus frequency (TakeOrdered, count-desc/token tiebreak) and
    report what fraction of all token occurrences it covers — the
    decision metric for vocab-size tradeoffs.  Two partial-aggregated
    passes over the exploded token stream (distinct-token cardinality
    shuffles, never corpus rows); the ratio is emitted in exact integer
    micro-units (no double until the final IEEE division)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = counts.orderBy(F.desc("cnt"), F.col("tok")).limit(500)
    totals = counts.agg(
        F.sum("cnt").alias("total_occ"), F.count(F.lit(1)).alias("n_types")
    )
    cov = vocab.agg(F.sum("cnt").alias("covered_occ"))
    return (
        cov.crossJoin(F.broadcast(totals))
        .select(
            F.lit(500).alias("vocab_size"),
            "covered_occ",
            "total_occ",
            "n_types",
            (
                F.expr("(covered_occ * 1000000) div total_occ").cast("bigint")
            ).alias("coverage_ppm"),
        )
    )


_BPE_SPACED = (
    "trim(regexp_replace(replace(lower(trim(regexp_replace(text, "
    "'\\s+', ' ', 'g'))), ' ', '_'), '(.)', '\\1 ', 'g'))"
)


def _bpe_train_ctes(n_merges: int = 8) -> list[str]:
    """Unrolled merge-learning rounds (d0..dN corpora, m1..mN winners) —
    shared by the training oracle and the encode oracle."""
    # MATERIALIZED throughout: every d{i} corpus state is consumed
    # TWICE (pair-count p{i+1} and next state d{i+1}) and every m{i}
    # winner twice in the encode oracle (training chain + enc chain).
    # Inlined, the recompute tree doubles per round — 2^8 rescans of
    # the spaced corpus at 8 merges — which is what pushed the sf10
    # oracle past the 1200 s sweep timeout (same temp-bomb class as
    # the pagerank/kcore fixes; 90.5 s -> seconds at sf1).
    ctes = [f"d0 AS MATERIALIZED (SELECT {_BPE_SPACED} AS s FROM documents)"]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"p{i} AS (SELECT unnest(list_transform(range(len(sy) - 1), "
            f"j -> sy[j + 1] || ' ' || sy[j + 2])) AS p "
            f"FROM (SELECT string_split(s, ' ') AS sy FROM d{i - 1}) t "
            f"WHERE len(sy) >= 2)"
        )
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT p, COUNT(*) AS cnt FROM p{i} "
            f"GROUP BY p ORDER BY cnt DESC, p LIMIT 1)"
        )
        rep = "' ' || replace(m.p, ' ', '') || ' '"
        pat = "' ' || m.p || ' '"
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT trim(replace(replace(' ' || d.s || ' ', "
            f"{pat}, {rep}), {pat}, {rep})) AS s "
            f"FROM d{i - 1} d CROSS JOIN m{i} m)"
        )
    return ctes


def _bpe_oracle(n_merges: int = 8) -> str:
    sel = [
        f"SELECT {i} AS rank, p AS pair, cnt FROM m{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(_bpe_train_ctes(n_merges))
        + "\n    "
        + "\n    UNION ALL ".join(sel)
    )


ORACLE_BPE_MERGES = _bpe_oracle(8)


@query(ORACLE_BPE_MERGES)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, in-engine: 8 merge-learning rounds over
    the documents corpus (operators/text.py::bpe_learn_merges — pair
    counting is a partial-aggregated explode, the winner is one driver
    scalar per round, the merge is a literal-replace map).  Emits the
    learned merge table in rank order; the DuckDB oracle replays the
    ENTIRE training run as 8 unrolled CTE rounds (ORACLE_BPE_MERGES)."""
    docs = _t(spark, sf_dir, "documents")
    merges = TX.bpe_learn_merges(docs, "text", n_merges=8)
    return spark.createDataFrame(
        [(i + 1, p, c) for i, (p, c) in enumerate(merges)],
        "rank int, pair string, cnt bigint",
    )


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    ctes_part = ",\n    ".join(_bpe_train_ctes(n_merges))
    # enc0 is consumed twice (the replace chain and the final join's
    # base-symbol count) — materialize so the spacing pass runs once.
    enc = [
        f"enc0 AS MATERIALIZED (SELECT doc_id, {_BPE_SPACED} AS s FROM documents)",
    ]
    for i in range(1, n_merges + 1):
        rep = "' ' || replace(m.p, ' ', '') || ' '"
        pat = "' ' || m.p || ' '"
        enc.append(
            f"enc{i} AS (SELECT doc_id, trim(replace(replace("
            f"' ' || e.s || ' ', {pat}, {rep}), {pat}, {rep})) AS s "
            f"FROM enc{i - 1} e CROSS JOIN m{i} m)"
        )
    return (
        "WITH "
        + ctes_part
        + ",\n    "
        + ",\n    ".join(enc)
        + f"""
    SELECT e0.doc_id,
           len(list_filter(string_split(e0.s, ' '), x -> x <> ''))
               AS n_base_symbols,
           len(list_filter(string_split(e{n_merges}.s, ' '), x -> x <> ''))
               AS n_bpe_tokens,
           (len(list_filter(string_split(e{n_merges}.s, ' '), x -> x <> ''))
                * 1000000)
               // len(list_filter(string_split(e0.s, ' '), x -> x <> ''))
               AS compression_ppm
    FROM enc0 e0 JOIN enc{n_merges} e{n_merges} USING (doc_id)
"""
    )


ORACLE_BPE_ENCODE = _bpe_encode_oracle(8)


@query(ORACLE_BPE_ENCODE)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: learn the 8-merge BPE
    table (same training loop as bpe_merges), then encode every
    document with it (text.py::bpe_apply — a chain of literal replaces,
    pure JVM map fused into the scan; the learned merges ride into the
    plan as literals exactly like k-means centroids). Emits per-doc
    base-symbol and BPE-token counts plus the exact-ppm compression
    ratio. The oracle replays training AND encoding: the merge values
    flow from the training CTEs into per-doc replace() calls as column
    arguments."""
    docs = _t(spark, sf_dir, "documents")
    merges = TX.bpe_learn_merges(docs, "text", n_merges=8)
    base = TX.bpe_base_symbols(F.col("text"))
    n_base = F.size(F.filter(F.split(base, " "), lambda t: t != ""))
    toks = TX.bpe_apply(F.col("text"), [p for p, _ in merges])
    return docs.select(
        "doc_id",
        n_base.alias("n_base_symbols"),
        F.size(toks).alias("n_bpe_tokens"),
    ).withColumn(
        "compression_ppm",
        F.expr("n_bpe_tokens * 1000000 div n_base_symbols"),
    )


def _curriculum_oracle() -> str:
    q_expr = ORACLE_QUALITY.strip()
    return f"""
    WITH scores AS ({q_expr}),
    hist AS (SELECT quality AS q, COUNT(*) AS cnt FROM scores GROUP BY 1),
    c AS (SELECT q, cnt, SUM(cnt) OVER (ORDER BY q DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              (SELECT SUM(cnt) FROM hist) AS n
          FROM hist),
    s AS (SELECT q, cnt,
              LEAST(4, CAST((4 * (cum - cnt)) // n AS INT) + 1) AS stage
          FROM c)
    SELECT stage, CAST(SUM(cnt) AS BIGINT) AS n_docs,
           MIN(q) AS q_lo, MAX(q) AS q_hi
    FROM s GROUP BY stage
"""


ORACLE_CURRICULUM = _curriculum_oracle()


@query(ORACLE_CURRICULUM)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum split: quartile the corpus by quality score WITHOUT a
    global NTILE (whose single-partition sort dies at 100 TB).  The
    quality score is low-cardinality, so the quartile boundaries come
    from a tiny value histogram (distinct-value shuffle + a <=5-row
    window) and each doc's stage is a broadcast join on its value —
    same-value docs land in the same stage (value-banded quartiles:
    deterministic, unlike NTILE's arbitrary tie splitting).  Emits per
    stage: doc count and the quality band."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    q = docs.select(TX.quality_score(F.col("text")).alias("q"))
    hist = q.groupBy("q").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("q")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the window runs over the value histogram (bounded rows), best first
    staged = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("n"))))
        .select(
            "q",
            "cnt",
            F.least(
                F.lit(4),
                F.expr("(4 * (cum - cnt)) div n").cast("int") + 1,
            ).alias("stage"),
        )
    )
    return staged.groupBy("stage").agg(
        F.sum("cnt").alias("n_docs"),
        F.min("q").alias("q_lo"),
        F.max("q").alias("q_hi"),
    )


_GRAMS8 = (
    "CASE WHEN len(toks) >= 8 THEN list_transform(range(len(toks) - 7), "
    "i -> array_to_string(toks[i + 1:i + 8], ' ')) "
    "ELSE [array_to_string(toks, ' ')] END"
)


ORACLE_POSTINGS = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
    SELECT term, COUNT(*) AS doc_freq,
           array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings10
    FROM e GROUP BY term
    ORDER BY doc_freq DESC, term LIMIT 30
"""


@query(ORACLE_POSTINGS)
def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per term, document frequency and the
    first 10 postings (sorted doc ids, comma-joined for hash-stable
    comparison); top 30 terms by df. One explode + one hash aggregation
    — the canonical search-index build, partial-agg safe at any corpus
    size (collect_list is bounded per term by the slice)."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.tokens(TX.normalize_text(F.col("text"))))
        ).alias("term"),
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10)
            ).alias("postings10"),
        )
        .orderBy(F.desc("doc_freq"), "term")
        .limit(30)
    )


ORACLE_CONJUNCTIVE = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    e AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
    SELECT doc_id FROM e WHERE term IN ('data', 'join', 'hash')
    GROUP BY doc_id HAVING COUNT(*) = 3
"""


@query(ORACLE_CONJUNCTIVE)
def q_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND search through the inverted-index shape: documents
    containing ALL three query terms, resolved as a term-filtered
    explode + per-doc distinct-term count (the posting-intersection
    plan: the scan prunes to rows matching any term — at scale, the
    posting table is term-bucketed so this reads 3 buckets, not the
    corpus)."""
    docs = _t(spark, sf_dir, "documents")
    qterms = ["data", "join", "hash"]
    terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.tokens(TX.normalize_text(F.col("text"))))
        ).alias("term"),
    ).filter(F.col("term").isin(qterms))
    return (
        terms.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .filter(F.col("n_matched") == len(qterms))
        .select("doc_id")
    )


ORACLE_CONTRASTIVE = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    b AS (SELECT doc_id, tk, len(tk) AS n FROM t),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    a0 AS (SELECT doc_id,
               md5(array_to_string(tk[1:64], ' ')) AS anchor_md5,
               md5(array_to_string(tk[57:120], ' ')) AS positive_md5,
               (doc_id * 31 + 7) % n_docs AS neg0, n_docs
           FROM b CROSS JOIN nd WHERE n > 64),
    a AS (SELECT doc_id, anchor_md5, positive_md5,
              CASE WHEN neg0 = doc_id THEN (neg0 + 1) % n_docs
                   ELSE neg0 END AS neg_doc_id
          FROM a0),
    negs AS (SELECT doc_id AS neg_doc_id,
                 md5(array_to_string(tk[1:64], ' ')) AS negative_md5
             FROM b)
    SELECT a.doc_id, anchor_md5, positive_md5, a.neg_doc_id, negative_md5
    FROM a JOIN negs ON a.neg_doc_id = negs.neg_doc_id
"""


@query(ORACLE_CONTRASTIVE)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining for embedding-model data prep:
    for every document long enough to yield two chunks, the (anchor,
    positive) pair is its first two 64-token chunks and the negative is
    the first chunk of a deterministically hashed OTHER document
    (in-batch-negative style, but reproducible). Chunks travel as md5
    digests — fixed-width keys, never chunk text, cross the one
    neg-doc join shuffle."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = _parquet_nrows(f"{sf_dir}/documents.parquet")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    base = docs.select("doc_id", toks.alias("tk")).withColumn(
        "n", F.size("tk")
    )
    neg = F.pmod(F.col("doc_id") * 31 + 7, F.lit(n_docs))
    anchors = (
        base.filter(F.col("n") > 64)
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("tk", 1, 64))).alias(
                "anchor_md5"
            ),
            F.md5(F.concat_ws(" ", F.slice("tk", 57, 64))).alias(
                "positive_md5"
            ),
            neg.alias("neg_doc_id"),
        )
        .withColumn(
            "neg_doc_id",
            F.when(
                F.col("neg_doc_id") == F.col("doc_id"),
                F.pmod(F.col("neg_doc_id") + 1, F.lit(n_docs)),
            ).otherwise(F.col("neg_doc_id")),
        )
    )
    negs = base.select(
        F.col("doc_id").alias("neg_doc_id"),
        F.md5(F.concat_ws(" ", F.slice("tk", 1, 64))).alias("negative_md5"),
    )
    return anchors.join(negs, "neg_doc_id").select(
        "doc_id", "anchor_md5", "positive_md5", "neg_doc_id", "negative_md5"
    )


ORACLE_QUALITY_CLF = f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b,
               COUNT(*) AS tf
           FROM t GROUP BY 1, 2),
    w AS (SELECT i AS b,
              ('0x' || substr(md5('w#' || i), 1, 15))::BIGINT % 2001 - 1000
                  AS w_milli
          FROM range(64) r(i)),
    per_doc AS (SELECT doc_id,
                    CAST(SUM(w_milli * tf) AS BIGINT) AS z_milli,
                    CAST(SUM(tf) AS BIGINT) AS n_tokens
                FROM tf JOIN w USING (b) GROUP BY doc_id)
    SELECT doc_id, z_milli,
        -- DuckDB's // ALSO truncates toward zero (-7 // 2 = -3, verified;
        -- same as Spark div), so this CASE is purely defensive: it pins
        -- truncation semantics for negative logits even on a DuckDB
        -- build that switched // to flooring. See _avg_micro_expr.
        CASE WHEN z_milli >= 0 THEN (z_milli * 1000) // n_tokens
             ELSE -((-z_milli * 1000) // n_tokens)
        END AS per_token_z_ppm,
        z_milli > 0 AS keep
    FROM per_doc
"""


@query(ORACLE_QUALITY_CLF)
def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE in-engine (the fasttext-style
    filter LLM pipelines run over every document): hashing-trick
    bag-of-words (64 buckets), per-bucket integer milli-weights derived
    from md5 (a stand-in for trained weights — the plan shape is what
    matters: swap in real weights as a literal map), logit and
    per-token logit emitted as EXACT integers. explode -> bucket tf
    partial agg -> 64-row broadcast weight join -> per-doc sum; no
    float forms anywhere."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long"),
        F.lit(64),
    )
    tf = toks.select("doc_id", bucket.alias("b")).groupBy(
        "doc_id", "b"
    ).agg(F.count(F.lit(1)).alias("tf"))
    w = spark.range(64).select(
        F.col("id").alias("b"),
        (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("w#"), F.col("id"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(2001),
            )
            - 1000
        ).alias("w_milli"),
    )
    per_doc = (
        tf.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("w_milli") * F.col("tf")).alias("z_milli"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "z_milli",
        F.expr("z_milli * 1000 div n_tokens").alias("per_token_z_ppm"),
        (F.col("z_milli") > 0).alias("keep"),
    )


ORACLE_DATASHEET = f"""
    WITH base AS (SELECT COUNT(*) AS n_docs,
                      COUNT(DISTINCT lang) AS n_langs,
                      COUNT(DISTINCT source) AS n_sources,
                      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                      COUNT(*) - COUNT(DISTINCT md5(lower(trim(
                          regexp_replace(text, '\\s+', ' ', 'g')))))
                          AS exact_dup_docs
                  FROM documents),
    tok AS (SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT t) AS vocab_size
            FROM (SELECT unnest({_TOKS}) AS t FROM documents) u)
    SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value
        FROM base
        UNION ALL SELECT 'n_langs', n_langs FROM base
        UNION ALL SELECT 'n_sources', n_sources FROM base
        UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM base
        UNION ALL SELECT 'mean_chars_ppm',
            (sum_chars * 1000000) // n_docs FROM base
        UNION ALL SELECT 'total_tokens', total_tokens FROM tok
        UNION ALL SELECT 'vocab_size', vocab_size FROM tok
        UNION ALL SELECT 'mean_tokens_ppm',
            (tok.total_tokens * 1000000) // base.n_docs
        FROM tok CROSS JOIN base
    ) ORDER BY metric
"""


@query(ORACLE_DATASHEET)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop dataset datasheet (the 'datasheets for datasets' summary
    a corpus release ships with): doc/vocab/language/source
    cardinalities, total token count, exact-duplicate count, and the
    mean length in exact ppm — every value a BIGINT, produced from two
    scans (one raw aggregate + one tokenized aggregate) glued by a
    metric/value union."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("t")
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_chars").alias("sum_chars"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.md5(TX.normalize_text(F.col("text"))))
        ).alias("exact_dup_docs"),
    )
    tok = toks.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.count_distinct("t").alias("vocab_size"),
    )
    j = base.crossJoin(tok)
    metrics = [
        ("n_docs", F.col("n_docs")),
        ("n_langs", F.col("n_langs")),
        ("n_sources", F.col("n_sources")),
        ("exact_dup_docs", F.col("exact_dup_docs")),
        ("mean_chars_ppm", F.expr("sum_chars * 1000000 div n_docs")),
        ("total_tokens", F.col("total_tokens")),
        ("vocab_size", F.col("vocab_size")),
        ("mean_tokens_ppm", F.expr("total_tokens * 1000000 div n_docs")),
    ]
    out = None
    for name, col in metrics:
        row = j.select(
            F.lit(name).alias("metric"), col.cast("long").alias("value")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("metric")


ORACLE_MANIFEST = """
    WITH f AS (SELECT source, n_chars, lang,
            CAST(('0x' || substr(
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
                1, 15)) AS BIGINT) AS fp
        FROM documents)
    SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        COUNT(DISTINCT lang) AS n_langs,
        CAST(CAST(SUM(CAST(fp AS DECIMAL(38,0))) AS DECIMAL(38,0))
             AS VARCHAR) AS content_sig,
        bit_xor(fp) AS content_xor
    FROM f GROUP BY source
"""


@query(ORACLE_MANIFEST)
def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning manifest: per source, document count, total
    chars, distinct languages, and an ORDER-INDEPENDENT multiset
    content signature — the exact DECIMAL sum of per-document 60-bit
    fingerprints (emitted as a string for cross-engine dtype
    stability), plus the bit_xor as a cheap secondary. The SUM is the
    primary because xor cancels even multiplicities ({A,A,B} xors
    equal to {C,C,B}); a sum collision needs two multisets with equal
    fingerprint totals — not constructible by swapping duplicated
    docs. Both combines are commutative/associative, so any
    partitioning or row order yields the identical manifest. One scan,
    one partial-aggregating shuffle."""
    docs = _t(spark, sf_dir, "documents")
    fp60 = F.conv(
        F.substring(TX.fingerprint(F.col("text")), 1, 15), 16, 10
    ).cast("bigint")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(fp60.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("content_sig"),
        F.bit_xor(fp60).alias("content_xor"),
    )


ORACLE_FERTILITY = f"""
    WITH per_doc AS (SELECT lang,
        len({_TOKS}) AS n_words,
        CAST(list_sum(list_transform(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x <> ''),
            x -> CASE WHEN length(x) <= 4 THEN 1
                      ELSE CAST(ceil(length(x) / 4.0) AS BIGINT) END))
            AS BIGINT) AS n_sub
    FROM documents),
    agg AS (SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_words) AS BIGINT) AS words,
                CAST(SUM(n_sub) AS BIGINT) AS subs
            FROM per_doc GROUP BY lang)
    SELECT lang, n_docs, words AS n_words, subs AS n_subwords,
        CAST((subs // words) * 1000000
             + ((subs % words) * 2000000 + words) // (2 * words)
             AS DOUBLE) / 1000000.0 AS fertility
    FROM agg
"""


@query(ORACLE_FERTILITY)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens emitted per
    whitespace word (the BPE-ish proxy count over the word count), in
    exact micro-units — the metric that decides whether a tokenizer is
    fair to a language before a multilingual training run.  Pure map +
    one partial agg; the micro-unit average is the repo's exact
    integer half-up idiom, so no double forms until the final cast."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    per_doc = docs.select(
        "lang",
        TX.token_count(text).cast("bigint").alias("n_words"),
        TX.bpe_ish_token_count(text).cast("bigint").alias("n_sub"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_sub").alias("subs"),
    )
    # remainder-form micro average: intermediates bounded by words*2e6,
    # so a 100 TB-scale token count cannot overflow int64 (the naive
    # subs*1e6 form dies at ~9e12 subwords)
    fert_micro = _avg_micro_expr("subs", "words")
    return agg.select(
        "lang",
        "n_docs",
        F.col("words").alias("n_words"),
        F.col("subs").alias("n_subwords"),
        (fert_micro.cast("double") / F.lit(1000000.0)).alias("fertility"),
    )


ORACLE_QUALITY_PCT = f"""
    WITH scores AS ({ORACLE_QUALITY.strip()}),
    j AS (SELECT s.doc_id, d.source, s.quality AS q
          FROM scores s JOIN documents d ON s.doc_id = d.doc_id)
    SELECT doc_id, source, q,
        CASE WHEN COUNT(*) OVER (PARTITION BY source) = 1 THEN 0
             ELSE (CAST(RANK() OVER (PARTITION BY source ORDER BY q) - 1
                        AS BIGINT) * 1000000)
                  // GREATEST(COUNT(*) OVER (PARTITION BY source) - 1, 1)
        END AS pct_ppm
    FROM j
"""


@query(ORACLE_QUALITY_PCT)
def q_quality_percentile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source rank normalization of the quality score — the step
    that makes scores comparable ACROSS sources before a curriculum or
    mixing decision (a 0.7 from a clean source and a 0.7 from a noisy
    one are different animals; their within-source percentiles are
    not).  Exact integer ppm: pct = (rank - 1) * 1e6 div (n - 1), ties
    share a rank (RANK, not ROW_NUMBER, so equal scores get equal
    percentiles).  One per-source sort window — each source sorts
    independently, the partition-count knob at 100 TB."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", TX.quality_score(F.col("text")).alias("q")
    )
    # exact integer ppm with a div-by-zero-proof denominator: NO double
    # division anywhere (Spark's double->bigint cast truncates while
    # DuckDB's ROUNDS — the cross-engine trap the integer form avoids)
    pct = F.expr(
        "CASE WHEN count(*) OVER (PARTITION BY source) = 1 THEN 0"
        " ELSE (CAST(rank() OVER (PARTITION BY source ORDER BY q) - 1"
        "       AS BIGINT) * 1000000)"
        " div GREATEST(count(*) OVER (PARTITION BY source) - 1, 1) END"
    )
    return scored.select(
        "doc_id", "source", "q", pct.cast("bigint").alias("pct_ppm")
    )


ORACLE_PARETO = f"""
    WITH scores AS ({ORACLE_QUALITY.strip()}),
    j AS (SELECT d.doc_id, d.n_chars, s.quality AS q
          FROM documents d JOIN scores s ON d.doc_id = s.doc_id)
    SELECT doc_id, n_chars, q FROM j a
    WHERE NOT EXISTS (
        SELECT 1 FROM j b
        WHERE b.n_chars < a.n_chars AND b.q >= a.q
    )
"""


@query(ORACLE_PARETO)
def q_pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) over documents: keep every doc not
    DOMINATED by another — no other doc is both strictly shorter
    (n_chars) and at-least-as-good while being better on one axis
    (quality, higher better; length, shorter better).  The
    multi-objective curation shape: 'shortest doc at each quality
    level you can't beat'.

    Scale-first: a naive skyline is a NOT EXISTS self-join (O(n^2));
    an unpartitioned sort-window is a single task.  Here dominance
    against SHORTER docs factors through length buckets: per-bucket
    max quality is a bounded table, its running max over buckets is a
    <=256-row window, and each doc compares against (a) the broadcast
    cumulative max of all strictly-shorter BUCKETS and (b) an
    intra-bucket running max over strictly-shorter docs — so the only
    per-row windows are per-bucket (parallel), and the cross-bucket
    pass is driver-free and bounded.  Dominance is strict on one axis:
    doc A dominates B iff len(A) < len(B) and q(A) >= q(B), or
    len(A) == len(B) is never dominance (ties co-exist), matching the
    oracle's NOT EXISTS formulation exactly."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "n_chars",
        TX.quality_score(F.col("text")).alias("q"),
        F.least(
            F.lit(255), F.floor(F.col("n_chars") / F.lit(64)).cast("int")
        ).alias("bkt"),
    )
    per_bkt = scored.groupBy("bkt").agg(F.max("q").alias("bq"))
    wcum = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )  # window over <=256 bucket rows — bounded, not the corpus
    prev_max = per_bkt.select(
        "bkt", F.max("bq").over(wcum).alias("prev_bkt_max")
    )
    # intra-bucket dominance: max q over STRICTLY shorter same-bucket
    # docs — RANGE to -1 on the integer length excludes equal lengths
    wlen = Window.partitionBy("bkt").orderBy("n_chars").rangeBetween(
        Window.unboundedPreceding, -1
    )
    flagged = (
        scored.join(F.broadcast(prev_max), "bkt", "left")
        .withColumn("shorter_in_bkt_max", F.max("q").over(wlen))
        .withColumn(
            "dominated",
            (
                F.coalesce(F.col("prev_bkt_max") >= F.col("q"), F.lit(False))
            )
            | (
                F.coalesce(
                    F.col("shorter_in_bkt_max") >= F.col("q"), F.lit(False)
                )
            ),
        )
    )
    return flagged.filter(~F.col("dominated")).select(
        "doc_id", "n_chars", "q"
    )


ORACLE_AUC = f"""
    WITH scores AS ({ORACLE_QUALITY.strip()}),
    j AS (SELECT s.quality AS s,
                 CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents d JOIN scores s ON d.doc_id = s.doc_id),
    hist AS (SELECT s, CAST(SUM(y) AS BIGINT) AS pos_v,
                    CAST(SUM(1 - y) AS BIGINT) AS neg_v
             FROM j GROUP BY s),
    c AS (SELECT s, pos_v, neg_v,
            COALESCE(CAST(SUM(neg_v) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS BIGINT), 0) AS neg_below
          FROM hist)
    SELECT CAST(SUM(pos_v) AS BIGINT) AS n_pos,
           CAST(SUM(neg_v) AS BIGINT) AS n_neg,
           CAST(SUM(pos_v * (2 * neg_below + neg_v)) AS BIGINT)
               * 1000000
               // (2 * CAST(SUM(pos_v) AS BIGINT)
                     * CAST(SUM(neg_v) AS BIGINT)) AS auc_ppm
    FROM c
"""


@query(ORACLE_AUC)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC (Mann-Whitney) of the quality score as a predictor of
    lang='en', in integer ppm — the model-eval primitive a data-quality
    classifier ships with.  Tie handling is the textbook average-rank
    form, computed EXACTLY: the score is low-cardinality, so ranks
    factor through a value histogram (per-score pos/neg counts, a
    bounded-row cumulative window) and
    AUC = sum_v pos_v * (neg_below_v + neg_v / 2) / (pos * neg)
    is emitted as AUC2x * 1e6 div (2 * pos * neg) — all BIGINT, no
    double ever forms (above ~2e9 docs the rank-sum product needs
    DECIMAL(38,0); the int64 form is exact to there).  At 100 TB: one
    partial agg to the histogram,
    one bounded window, a 1-row result; a global rank window (the
    naive AUC) would serialize the corpus through one task."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        TX.quality_score(F.col("text")).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("pos_v"),
        F.sum(F.lit(1) - F.col("y")).alias("neg_v"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "s",
        "pos_v",
        "neg_v",
        F.coalesce(F.sum("neg_v").over(w), F.lit(0)).alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos_v").alias("n_pos"),
        F.sum("neg_v").alias("n_neg"),
        F.expr(
            "CAST(sum(pos_v * (2 * neg_below + neg_v)) AS BIGINT)"
            " * 1000000 div (2 * sum(pos_v) * sum(neg_v))"
        ).alias("auc_ppm"),
    )


ORACLE_KMV_VOCAB = f"""
    WITH toks AS (SELECT DISTINCT source, tok
        FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents
              WHERE source IN ('src0', 'src1')) t),
    hashed AS (SELECT DISTINCT source,
            ('0x' || substr(md5(tok || '#kmvv'), 1, 15))::BIGINT AS h
        FROM toks),
    kmin AS (SELECT source, h FROM (
            SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY h) AS rk FROM hashed) r WHERE rk <= 64),
    flags AS (SELECT h,
            MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS in_a,
            MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in_b
        FROM kmin GROUP BY h),
    union_k AS (SELECT * FROM (
            SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rk
            FROM flags) r WHERE rk <= 64),
    pa AS (SELECT COUNT(*) AS kk, MAX(h) AS mx FROM kmin
           WHERE source = 'src0'),
    pb AS (SELECT COUNT(*) AS kk, MAX(h) AS mx FROM kmin
           WHERE source = 'src1'),
    pu AS (SELECT COUNT(*) AS kk, MAX(h) AS mx,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS matched
           FROM union_k)
    SELECT
        {DET.det_round_sql(
            "CAST(pa.kk - 1 AS DOUBLE) * 1152921504606846976.0 / pa.mx", 4
        )} AS est_vocab_a,
        {DET.det_round_sql(
            "CAST(pb.kk - 1 AS DOUBLE) * 1152921504606846976.0 / pb.mx", 4
        )} AS est_vocab_b,
        {DET.det_round_sql(
            "CAST(pu.kk - 1 AS DOUBLE) * 1152921504606846976.0 / pu.mx", 4
        )} AS est_vocab_union,
        pu.matched * 1000000 // pu.kk AS jaccard_ppm
    FROM pa, pb, pu
"""


@query(ORACLE_KMV_VOCAB)
def q_kmv_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA: estimated vocabulary sizes of sources
    src0 and src1, their union, and their Jaccard overlap — all from
    two 64-hash sketches, never from the raw token sets.  This is the
    sketch property that matters at 100 TB: per-corpus KMV sketches are
    k rows each; union = merge + re-rank of 2k rows; the Jaccard
    estimator is the fraction of the union's k smallest hashes present
    in both sketches (Beyer et al. 2007).  Everything after the two
    per-source k-smallest windows runs on <= 2k rows.  Jaccard emits as
    exact integer ppm (matched * 1e6 div k); sizes use the standard
    (k-1) * 2^60 / h_k estimator, det-rounded."""
    from pyspark.sql import Window

    k = 64
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    toks = docs.select(
        "source",
        F.explode(TX.tokens(TX.normalize_text(F.col("text")))).alias("tok"),
    ).distinct()
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("tok"), F.lit("#kmvv"))), 1, 15),
        16,
        10,
    ).cast("long")
    hashed = toks.select("source", h.alias("h")).distinct()
    w = Window.partitionBy("source").orderBy("h")
    kmin = hashed.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    # everything below operates on <= 2k rows
    flags = kmin.groupBy("h").agg(
        F.max((F.col("source") == "src0").cast("int")).alias("in_a"),
        F.max((F.col("source") == "src1").cast("int")).alias("in_b"),
    )
    wu = Window.orderBy("h")
    union_k = flags.withColumn("_rk", F.row_number().over(wu)).filter(
        F.col("_rk") <= k
    )
    est = lambda cnt, mx: DET.det_round(
        (cnt - 1).cast("double") * F.lit(float(2**60)) / mx, 4
    )
    per = kmin.groupBy("source").agg(
        F.count(F.lit(1)).alias("kk"), F.max("h").alias("mx")
    )
    a = per.filter(F.col("source") == "src0").select(
        est(F.col("kk"), F.col("mx")).alias("est_vocab_a")
    )
    b = per.filter(F.col("source") == "src1").select(
        est(F.col("kk"), F.col("mx")).alias("est_vocab_b")
    )
    u = union_k.agg(
        est(F.count(F.lit(1)), F.max("h")).alias("est_vocab_union"),
        F.expr(
            "CAST(sum(in_a * in_b) AS BIGINT) * 1000000 div count(*)"
        ).alias("jaccard_ppm"),
    )
    return a.crossJoin(b).crossJoin(u)


ORACLE_CALIBRATION = f"""
    WITH scores AS ({ORACLE_QUALITY.strip()}),
    j AS (SELECT LEAST(9, CAST(FLOOR(s.quality * 10.0) AS INT)) AS bucket,
                 CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents d JOIN scores s ON d.doc_id = s.doc_id)
    SELECT bucket, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) AS BIGINT) * 1000000 // COUNT(*) AS pos_rate_ppm
    FROM j GROUP BY bucket
"""


@query(ORACLE_CALIBRATION)
def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the quality score against the lang='en'
    label: scores bucketed into deciles, per-bucket observed positive
    rate in exact integer ppm — with AUC (classifier_auc), the two
    standard classifier-eval reports.  One scan, a 10-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    s = TX.quality_score(F.col("text"))
    bkt = F.least(F.lit(9), F.floor(s * F.lit(10.0)).cast("int"))
    return (
        docs.select(
            bkt.alias("bucket"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
        )
        .select(
            "bucket",
            "n",
            "n_pos",
            F.expr("n_pos * 1000000 div n").alias("pos_rate_ppm"),
        )
    )


ORACLE_PMI = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    uni AS (SELECT w, COUNT(*) AS c FROM (
            SELECT unnest(toks) AS w FROM t) u GROUP BY w),
    nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bt AS (SELECT toks FROM t WHERE len(toks) >= 2),
    big AS (SELECT bg, COUNT(*) AS cxy FROM (
            SELECT unnest(list_transform(range(len(toks) - 1),
                i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg
            FROM bt) b
        GROUP BY bg HAVING COUNT(*) >= 5),
    nb AS (SELECT CAST(SUM(len(toks) - 1) AS BIGINT) AS n FROM bt),
    parts AS (SELECT bg, cxy,
            string_split(bg, ' ')[1] AS x,
            string_split(bg, ' ')[2] AS y
        FROM big),
    scored AS (SELECT bg, cxy, ux.c AS cx, uy.c AS cy,
            {DET.det_round_sql(
                "ln(CAST(cxy AS DOUBLE))"
                " + 2.0 * ln(CAST(nu.n AS DOUBLE))"
                " - ln(CAST(nb.n AS DOUBLE))"
                " - ln(CAST(ux.c AS DOUBLE))"
                " - ln(CAST(uy.c AS DOUBLE))", 6
            )} AS pmi
        FROM parts
        JOIN uni ux ON parts.x = ux.w
        JOIN uni uy ON parts.y = uy.w
        CROSS JOIN nu CROSS JOIN nb)
    SELECT bg, cxy, cx, cy, pmi FROM scored
    ORDER BY pmi DESC, bg LIMIT 20
"""


@query(ORACLE_PMI)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 word bigrams by pointwise mutual
    information (min count 5) — the association score that separates
    'new york' from 'of the' no matter how frequent 'the' is.
    PMI = ln(p(xy) / (p(x) p(y))) computed in log space —
    ln(cxy) + 2 ln(n_uni) − ln(n_big) − ln(cx) − ln(cy), identical
    operation order on both sides — because the one-ln-over-a-ratio
    form needs the int64 product cxy·n_uni², which past ~3e7 corpus
    tokens silently wraps in non-ANSI Spark while DuckDB errors
    (round-5 ADVICE); log-space never overflows at any corpus size.
    det_round(6) keeps libm determinism; ranking ties break on the
    bigram string.  Scale shape: two token-cardinality partial aggs, two
    equi-joins on the word (shuffles carry count rows, not text), a
    TakeOrdered finish."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # BOTH corpus scalars from ONE aggregate action (separate count()
    # actions would each re-tokenize the corpus — the DSIR lesson)
    stats = toks.agg(
        F.sum(F.size("toks")).alias("nu"),
        F.sum(
            F.when(F.size("toks") >= 2, F.size("toks") - 1).otherwise(0)
        ).alias("nb"),
    ).head()
    n_uni, n_big = stats["nu"], stats["nb"]
    big = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(TX.ngram_strings(F.col("toks"), 2)).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= 5)
    )
    parts = big.select(
        "bg",
        "cxy",
        F.split(F.col("bg"), " ").getItem(0).alias("x"),
        F.split(F.col("bg"), " ").getItem(1).alias("y"),
    )
    ux = uni.select(F.col("w").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("w").alias("y"), F.col("c").alias("cy"))
    scored = (
        parts.join(ux, "x")
        .join(uy, "y")
        .select(
            "bg",
            "cxy",
            "cx",
            "cy",
            # log-space sum, left-to-right — the SAME association and
            # operation order the oracle uses, so the doubles agree
            # bit-for-bit before det_round
            DET.det_round(
                F.log(F.col("cxy").cast("double"))
                + F.lit(2.0) * F.log(F.lit(float(n_uni)))
                - F.log(F.lit(float(n_big)))
                - F.log(F.col("cx").cast("double"))
                - F.log(F.col("cy").cast("double")),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bg").limit(20)


ORACLE_BIGRAM_LM = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(toks) AS tok FROM t) u),
    bt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
    occ AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
                i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg FROM bt),
    cb AS (SELECT bg, COUNT(*) AS cb FROM occ GROUP BY bg),
    cw AS (SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS cw
           FROM occ GROUP BY 1),
    s AS (SELECT occ.doc_id,
            CAST({DET.det_round_sql(
                "ln(CAST(cb.cb + 1 AS DOUBLE))"
                " - ln(CAST(cw.cw + v.v AS DOUBLE))", 6
            )} AS DECIMAL(20,6)) AS term
          FROM occ JOIN cb USING (bg)
          JOIN cw ON string_split(occ.bg, ' ')[1] = cw.w1
          CROSS JOIN v),
    p AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            {DET.det_round_sql(
                "CAST(SUM(term) AS DOUBLE) / COUNT(*)", 4
            )} AS avg_logprob
          FROM s GROUP BY doc_id)
    SELECT doc_id, n_bigrams, avg_logprob,
        {DET.det_round_sql("exp(-avg_logprob)", 4)} AS ppl
    FROM p
"""


@query(ORACLE_BIGRAM_LM)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM perplexity filter: each doc scored by its
    mean ln p(w2|w1) under the corpus bigram model (add-one smoothing,
    contexts counted from the bigram table).  Log-space terms (the
    pmi_bigrams overflow lesson), DECIMAL(20,6) order-independent sums,
    ppl = exp(-avg) of the already-quantized average.  See
    operators/text.py::bigram_lm_scores for the scale shape (count
    tables at vocab cardinality = the broadcast knob)."""
    return TX.bigram_lm_scores(_t(spark, sf_dir, "documents"))


ORACLE_WINNOW = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
    p AS (SELECT doc_id, u.i AS pos,
            ('0x' || substr(md5(
                array_to_string(toks[u.i + 1:u.i + 4], ' ')), 1, 10)
            )::BIGINT * 1048576 + u.i AS comb
          FROM g, unnest(range(len(toks) - 3)) AS u(i)),
    sel AS (SELECT doc_id, pos,
            MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
            COUNT(*) OVER (PARTITION BY doc_id) AS m
          FROM p)
    SELECT DISTINCT doc_id, sel // 1048576 AS fp_hash,
           CAST(sel % 1048576 AS INT) AS fp_pos
    FROM sel WHERE pos <= greatest(m - 4, 0)
"""


@query(ORACLE_WINNOW)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (k=4 word grams, window w=4):
    guarantees any shared >= w+k-1-token run between two documents
    produces an identical fingerprint, making boilerplate detection an
    equi-join.  The (hash, position) window argmin rides ONE int64
    (hash40 * 2^20 + pos) so no cross-engine struct-ordering semantics
    are involved.  See operators/text.py::winnow_fingerprints."""
    return TX.winnow_fingerprints(_t(spark, sf_dir, "documents"))


ORACLE_GRAM_NOVELTY = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_GRAMS8} AS grams FROM t),
    h AS (SELECT DISTINCT doc_id,
            ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
          FROM (SELECT doc_id, unnest(list_distinct(grams)) AS gram
                FROM g) u),
    f AS (SELECT gh, MIN(doc_id) AS first_doc FROM h GROUP BY gh),
    p AS (SELECT h.doc_id, COUNT(*) AS n_grams,
            CAST(SUM(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS novel_grams
          FROM h JOIN f USING (gh) GROUP BY h.doc_id)
    SELECT doc_id, n_grams, novel_grams,
        (novel_grams // n_grams) * 1000000
        + ((novel_grams % n_grams) * 2000000 + n_grams)
          // (2 * n_grams) AS novelty_ppm
    FROM p
"""


@query(ORACLE_GRAM_NOVELTY)
def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen attribution of 8-gram content: per doc, the fraction
    of its distinct grams no lower doc_id contains — spans say WHAT is
    duplicated, novelty says WHO introduced it.  Exact integer ppm.
    See operators/text.py::gram_novelty."""
    return TX.gram_novelty(_t(spark, sf_dir, "documents"))


_WINNOW_FPS_SQL = """
    t AS (SELECT doc_id, %(toks)s AS toks FROM documents),
    g AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
    p AS (SELECT doc_id, u.i AS pos,
            ('0x' || substr(md5(
                array_to_string(toks[u.i + 1:u.i + 4], ' ')), 1, 10)
            )::BIGINT * 1048576 + u.i AS comb
          FROM g, unnest(range(len(toks) - 3)) AS u(i)),
    sel AS (SELECT doc_id, pos,
            MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
            COUNT(*) OVER (PARTITION BY doc_id) AS m
          FROM p),
    fh AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp_hash
           FROM sel WHERE pos <= greatest(m - 4, 0))
""" % {"toks": _TOKS}


ORACLE_WINNOW_PAIRS = f"""
    WITH {_WINNOW_FPS_SQL},
    width AS (SELECT fp_hash FROM fh GROUP BY fp_hash
              HAVING COUNT(*) <= 100)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM fh a JOIN fh b ON a.fp_hash = b.fp_hash
         AND a.doc_id < b.doc_id
    JOIN width ON a.fp_hash = width.fp_hash
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@query(ORACLE_WINNOW_PAIRS)
def q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step over the winnowing fingerprints: doc pairs
    sharing >= 2 distinct fingerprint hashes, joined WITHIN buckets
    with ubiquitous fingerprints (> 100 docs) dropped as
    stop-fingerprints before the self-join — the same heavy-bucket
    discipline as the LSH paths.  See
    operators/text.py::winnow_dup_pairs."""
    return TX.winnow_dup_pairs(_t(spark, sf_dir, "documents"))


ORACLE_GOPHER = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    pt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c,
            CAST(SUM(length(tok)) AS BIGINT) AS chars
           FROM tok GROUP BY 1, 2),
    pd AS (SELECT doc_id,
            CAST(SUM(c) AS BIGINT) AS n_words,
            CAST(SUM(chars) AS BIGINT) AS n_chars,
            CAST(MAX(c) AS BIGINT) AS top_c,
            CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and',
                'in','is','it','for','on') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stop
           FROM pt GROUP BY doc_id),
    m AS (SELECT doc_id, n_words,
            n_chars * 100 // n_words AS mean_centilen,
            n_stop, top_c * 1000000 // n_words AS top_tok_ppm
          FROM pd),
    fl AS (SELECT *,
            CASE WHEN n_words BETWEEN 20 AND 100000
                 THEN 1 ELSE 0 END AS flag_word_count,
            CASE WHEN mean_centilen BETWEEN 300 AND 1000
                 THEN 1 ELSE 0 END AS flag_mean_len,
            CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS flag_stopwords,
            CASE WHEN top_tok_ppm <= 200000
                 THEN 1 ELSE 0 END AS flag_repetition
           FROM m)
    SELECT doc_id, n_words, mean_centilen, n_stop, top_tok_ppm,
        flag_word_count, flag_mean_len, flag_stopwords, flag_repetition,
        flag_word_count * flag_mean_len * flag_stopwords
            * flag_repetition AS passes
    FROM fl
"""


@query(ORACLE_GOPHER)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality screen (Rae et al. 2021 §A1.1): exact
    integer word-count / mean-word-length / stopword-presence /
    top-token-dominance flags per document.  See
    operators/text.py::gopher_flags."""
    return TX.gopher_flags(_t(spark, sf_dir, "documents"))


ORACLE_HEAPS = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
            list_transform(range(len(toks) - 1),
                i -> array_to_string(toks[i + 1:i + 2], ' ')) AS grams
          FROM t WHERE len(toks) >= 2),
    o AS (SELECT doc_id,
            ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
          FROM (SELECT doc_id, unnest(grams) AS gram FROM g) u),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    occ AS (SELECT CAST(least(doc_id * 10 // (SELECT n_docs FROM nd), 9)
                AS BIGINT) AS bucket, gh FROM o),
    pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_grams
           FROM occ GROUP BY bucket),
    first AS (SELECT gh, MIN(doc_id) AS first_doc FROM o GROUP BY gh),
    nt AS (SELECT CAST(least(first_doc * 10 // (SELECT n_docs FROM nd), 9)
                AS BIGINT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS new_types
           FROM first GROUP BY 1),
    j AS (SELECT COALESCE(pb.bucket, nt.bucket) AS bucket,
            COALESCE(n_grams, 0) AS n_grams,
            COALESCE(new_types, 0) AS new_types
          FROM pb FULL OUTER JOIN nt ON pb.bucket = nt.bucket)
    SELECT bucket, n_grams, new_types,
        CAST(SUM(n_grams) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_grams,
        CAST(SUM(new_types) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_types
    FROM j
"""


@query(ORACLE_HEAPS)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law curve: cumulative distinct bigram TYPES vs cumulative
    bigram occurrences per ingest-order decile — the new-type flattening
    that says when the corpus stops contributing novelty.  The corpus
    doc count is the one bounded scalar action (fano-bounds idiom).
    See operators/text.py::heaps_vocab_growth."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    return TX.heaps_vocab_growth(docs, n_docs=n_docs, n=2, buckets=10)


ORACLE_FEATURE_HASH = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    tok AS (SELECT source AS grp, unnest(toks) AS tok FROM t),
    h AS (SELECT grp,
            CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % 64
                 AS INTEGER) AS bucket,
            (('0x' || substr(md5(tok), 16, 1))::BIGINT % 2) * 2 - 1
                AS sign
          FROM tok),
    agg AS (SELECT grp, bucket, CAST(SUM(sign) AS BIGINT) AS weight,
            CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM h GROUP BY 1, 2),
    r AS (SELECT grp AS source, bucket, weight, n_tokens,
            CAST(ROW_NUMBER() OVER (PARTITION BY grp
                ORDER BY abs(weight) DESC, bucket ASC)
                AS INTEGER) AS rnk
          FROM agg)
    SELECT source, bucket, weight, n_tokens, rnk FROM r WHERE rnk <= 8
"""


@query(ORACLE_FEATURE_HASH)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick featurization per source: top-8 of 64
    signed token-hash buckets by |weight| — the vocabulary-free sparse
    features a linear quality classifier trains on.  See
    operators/text.py::feature_hash_buckets."""
    return TX.feature_hash_buckets(
        _t(spark, sf_dir, "documents"), n_buckets=64, top=8
    )


ORACLE_NGRAM_DIVERSITY = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT source, 1 AS n, unnest(toks) AS g FROM t
        UNION ALL
        SELECT source, 2 AS n,
            unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM t
        UNION ALL
        SELECT source, 3 AS n,
            unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> array_to_string(toks[i:i+2], ' '))) AS g
        FROM t
    )
    SELECT source, n,
        COUNT(*) AS occurrences,
        COUNT(DISTINCT g) AS distinct_grams,
        COUNT(DISTINCT g) * 1000000 // COUNT(*) AS diversity_ppm
    FROM g GROUP BY source, n
"""


@query(ORACLE_NGRAM_DIVERSITY)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (the Self-BLEU-adjacent metric
    generation-quality audits use): for n = 1, 2, 3, the number of
    distinct n-grams over total n-gram occurrences, in exact integer
    ppm — a low distinct-2/3 ratio is the repetitive-corpus signal
    that per-doc repetition_scores can't see (cross-doc repetition).

    One scan: the three gram arrays are concatenated per row into ONE
    tagged struct array and exploded once, so the text column is read
    and tokenized once, not three times; then a single (source, n)
    partial aggregation carrying count + count_distinct.  At 100 TB
    the explode output is ~3x token volume — the same volume class as
    every other gram query here — and the agg is two-phase with the
    distinct resolved by shuffle on (source, n, gram)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    )

    def tagged(n: int):
        # ngram_strings' contract: callers guard size(toks) >= n — a
        # 0/1-token doc would otherwise build slice(toks, 1, -1) and
        # crash the job (quarantine-don't-crash rule)
        arr = (
            F.col("toks")
            if n == 1
            else F.when(
                F.size("toks") >= n,
                TX.ngram_strings(F.col("toks"), n),
            ).otherwise(F.array().cast("array<string>"))
        )
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))
        )

    ex = toks.select(
        "source",
        F.explode(F.concat(tagged(1), tagged(2), tagged(3))).alias("t"),
    )
    agg = ex.groupBy("source", F.col("t.n").alias("n")).agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.count_distinct(F.col("t.g")).alias("distinct_grams"),
    )
    return agg.select(
        "source",
        "n",
        "occurrences",
        "distinct_grams",
        F.expr("distinct_grams * 1000000 div occurrences").alias(
            "diversity_ppm"
        ),
    )


ORACLE_WATERFILL = f"""
    WITH per AS (SELECT source,
            CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
            CAST(COUNT(*) AS BIGINT) AS k,
            CAST(MAX(tokens) AS BIGINT) AS t_max
        FROM per),
    rows_ AS (SELECT source, tokens, total, k, t_max,
            total * 2 // 5 AS budget,
            ROW_NUMBER() OVER (ORDER BY tokens, source) AS i,
            CAST(SUM(tokens) OVER (ORDER BY tokens, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) - tokens AS prev_sum,
            COALESCE(LAG(tokens) OVER (ORDER BY tokens, source), 0)
                AS prev_tok
        FROM per CROSS JOIN tot),
    cand AS (SELECT *, (budget - prev_sum) // (k - i + 1) AS li,
            budget >= prev_sum AND (budget - prev_sum) // (k - i + 1)
                >= prev_tok
            AND (budget - prev_sum) // (k - i + 1) < tokens AS valid
        FROM rows_),
    lvl AS (SELECT COALESCE(
            CAST(MIN(CASE WHEN valid THEN li END) AS BIGINT),
            CAST(MAX(t_max) AS BIGINT)) AS level
        FROM cand)
    SELECT source, tokens,
        LEAST(tokens, level) AS alloc,
        tokens > level AS capped,
        level, budget
    FROM cand CROSS JOIN lvl
"""


@query(ORACLE_WATERFILL)
def q_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing allocator: given per-source token counts and a total
    token budget (2/5 of the corpus here), find the integer water
    level L such that sum(min(tokens_s, L)) <= budget — small sources
    keep everything, large sources are capped at L (the
    proportional-cap policy behind most pretraining mixes; cf.
    temperature_lang_mix for the exponent variant).  The level is found
    CLOSED-FORM, not by iteration: sort sources by token count
    ascending, and for each prefix the candidate level is the budget
    remainder spread over the remaining sources; exactly one candidate
    lands inside its own segment (validity guard B >= prefix keeps the
    division non-negative, so Spark's truncating div and DuckDB's
    flooring // agree).

    Scale shape: one corpus partial agg down to SOURCE cardinality;
    everything after — the sort window, the level, the caps — runs on
    that dimension-sized table (single-partition window over ~10 rows,
    bounded by construction, same class as lang_rebalance)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source",
            F.size(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("tokens"))
    )
    tot = per.agg(
        F.sum("tokens").alias("total"),
        F.count(F.lit(1)).alias("k"),
        F.max("tokens").alias("t_max"),
    )
    w = Window.orderBy("tokens", "source")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        "total",
        "k",
        "t_max",
        F.expr("total * 2 div 5").alias("budget"),
        F.row_number().over(w).alias("i"),
        (F.sum("tokens").over(wc) - F.col("tokens")).alias("prev_sum"),
        F.lag("tokens", 1, 0).over(w).alias("prev_tok"),
    )
    cand = rows.withColumn(
        "li", F.expr("(budget - prev_sum) div (k - i + 1)")
    ).withColumn(
        "valid",
        (F.col("budget") >= F.col("prev_sum"))
        & (F.col("li") >= F.col("prev_tok"))
        & (F.col("li") < F.col("tokens")),
    )
    level = cand.agg(
        F.coalesce(
            F.min(F.when(F.col("valid"), F.col("li"))),
            F.max("t_max"),
        ).alias("level")
    )
    return (
        cand.crossJoin(F.broadcast(level))
        .select(
            "source",
            "tokens",
            F.least(F.col("tokens"), F.col("level")).alias("alloc"),
            (F.col("tokens") > F.col("level")).alias("capped"),
            "level",
            "budget",
        )
    )


ORACLE_ZIPF = f"""
    WITH freq AS (SELECT source, w, COUNT(*) AS c
        FROM (SELECT source, unnest({_TOKS}) AS w FROM documents)
        GROUP BY source, w),
    ranked AS (SELECT source, c,
            ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY c DESC, w ASC) AS r
        FROM freq
        QUALIFY r <= 1000),
    q AS (SELECT source,
            CAST({DET.det_round_sql('ln(CAST(r AS DOUBLE))', 9)}
                AS DECIMAL(18,9)) AS x,
            CAST({DET.det_round_sql('ln(CAST(c AS DOUBLE))', 9)}
                AS DECIMAL(18,9)) AS y
        FROM ranked),
    m AS (SELECT source, COUNT(*) AS n,
            SUM(x) AS sx, SUM(y) AS sy,
            SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM q GROUP BY source HAVING COUNT(*) >= 2),
    md AS (SELECT source, n AS n_ranks,
            CAST(n AS DOUBLE) AS nd,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy
        FROM m)
    SELECT source, n_ranks,
        {DET.det_round_sql(
            '(nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx)', 6
        )} AS zipf_slope,
        {DET.det_round_sql(
            '(dsy - ((nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx))'
            ' * dsx) / nd', 6
        )} AS zipf_intercept
    FROM md
"""


@query(ORACLE_ZIPF)
def q_zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit per source: OLS slope/intercept of
    ln(freq) on ln(rank) over the top-1000 token ranks — natural text
    sits near slope -1; a flat slope is the synthetic/templated-corpus
    tell (this corpus's near-uniform vocabulary reads ~-0.3).  Ranks
    are exact ROW_NUMBER over (freq DESC, token ASC).

    Determinism: each ln term is det_round(_, 9) then DECIMAL(18,9), so
    every OLS moment (sx, sy, sxx, sxy, products in DECIMAL(36..37,18))
    is an EXACT order-independent decimal sum; moments go to double
    through VARCHAR (the dispersion_stats idiom — int128-to-double
    casts double-round) and the closed form is the identical IEEE
    expression on both engines.  Sources with < 2 ranks are excluded
    (undefined slope).

    Scale shape: token counts are one partial agg at (source, token)
    cardinality; the rank window partitions by source and the fit
    aggregates 1000 rows/source — vocabulary grows Heaps-sublinearly,
    so this never becomes the big shuffle."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(
            "source",
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    ranked = freq.withColumn("r", F.row_number().over(w_rank)).filter(
        F.col("r") <= 1000
    )
    x = DET.det_round(F.log(F.col("r").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    y = DET.det_round(F.log(F.col("c").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    m = (
        ranked.select("source", x.alias("x"), y.alias("y"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        .filter(F.col("n") >= 2)
    )
    md = m.select(
        "source",
        F.col("n").alias("n_ranks"),
        F.expr("CAST(n AS DOUBLE)").alias("nd"),
        F.expr("CAST(CAST(sx AS STRING) AS DOUBLE)").alias("dsx"),
        F.expr("CAST(CAST(sy AS STRING) AS DOUBLE)").alias("dsy"),
        F.expr("CAST(CAST(sxx AS STRING) AS DOUBLE)").alias("dsxx"),
        F.expr("CAST(CAST(sxy AS STRING) AS DOUBLE)").alias("dsxy"),
    )
    slope = (F.col("nd") * F.col("dsxy") - F.col("dsx") * F.col("dsy")) / (
        F.col("nd") * F.col("dsxx") - F.col("dsx") * F.col("dsx")
    )
    return md.select(
        "source",
        "n_ranks",
        DET.det_round(slope, 6).alias("zipf_slope"),
        DET.det_round(
            (F.col("dsy") - slope * F.col("dsx")) / F.col("nd"), 6
        ).alias("zipf_intercept"),
    )


ORACLE_KAPPA = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    pt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c,
            CAST(SUM(length(tok)) AS BIGINT) AS chars
        FROM tok GROUP BY 1, 2),
    pd AS (SELECT doc_id,
            CAST(SUM(c) AS BIGINT) AS n_words,
            CAST(SUM(chars) AS BIGINT) AS n_chars,
            CAST(MAX(c) AS BIGINT) AS top_c,
            CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and',
                'in','is','it','for','on') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stop_types,
            CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and',
                'in','is','it','for','on') THEN c ELSE 0 END)
                AS BIGINT) AS n_stop_occ
        FROM pt GROUP BY doc_id),
    fl AS (SELECT
            CASE WHEN n_words BETWEEN 20 AND 100000
                 AND n_chars * 100 // n_words BETWEEN 300 AND 1000
                 AND n_stop_types >= 2
                 AND top_c * 1000000 // n_words <= 200000
                 THEN 1 ELSE 0 END AS fa,
            CASE WHEN n_words >= 10
                 AND n_stop_occ * 1000 // n_words >= 30
                 THEN 1 ELSE 0 END AS fb
        FROM pd),
    conf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n11,
            CAST(SUM(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN fa = 0 AND fb = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n00
        FROM fl)
    SELECT n, n11, n10, n01, n00,
        (n11 + n00) * 1000000 // n AS po_ppm,
        CAST((CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
            + CAST(n00 + n01 AS HUGEINT) * (n00 + n10))
            * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
        CAST((CAST(n AS HUGEINT) * (n11 + n00)
            - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
               + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)))
            * 1000000 // (CAST(n AS HUGEINT) * n
            - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
               + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)))
            AS BIGINT) AS kappa_micro
    FROM conf
"""


@query(ORACLE_KAPPA)
def q_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality
    classifiers: A = the full Gopher structural screen (the
    gopher_quality_flags conjunction), B = a cheap stopword-density
    screen (density >= 30 per mille and >= 10 words).  Kappa is the
    agreement-beyond-chance number that decides whether the cheap
    classifier can gate the expensive one.  Fully exact: kappa_micro =
    (n*(n00+n11) - pe_num) * 1e6 div (n*n - pe_num) with pe_num =
    na0*nb0 + na1*nb1, all products in DECIMAL(38,0)/HUGEINT (n*n
    wraps int64 past ~3e9 docs).

    Scale shape: the gopher (doc, token) count-table idiom — two
    partial-combined aggs to per-doc stats, then ONE single-row
    confusion agg; nothing after the first shuffle exceeds doc
    cardinality."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            TX.tokens(TX.normalize_text(F.col("text")))
        ).alias("tok"),
    )
    pt = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.length("tok")).alias("chars"),
    )
    stop = (
        "('the','a','of','to','and','in','is','it','for','on')"
    )
    pd_ = pt.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.sum("chars").alias("n_chars"),
        F.max("c").alias("top_c"),
        # classifier A needs DISTINCT stopword types present (one per
        # (doc, tok) row — the gopher_quality_flags definition);
        # classifier B needs stopword OCCURRENCES for its density
        F.sum(
            F.expr(f"CASE WHEN tok IN {stop} THEN 1 ELSE 0 END")
        ).alias("n_stop_types"),
        F.sum(
            F.expr(f"CASE WHEN tok IN {stop} THEN c ELSE 0 END")
        ).alias("n_stop_occ"),
    )
    fl = pd_.select(
        F.expr(
            "CASE WHEN n_words BETWEEN 20 AND 100000"
            " AND n_chars * 100 div n_words BETWEEN 300 AND 1000"
            " AND n_stop_types >= 2"
            " AND top_c * 1000000 div n_words <= 200000"
            " THEN 1 ELSE 0 END"
        ).alias("fa"),
        F.expr(
            "CASE WHEN n_words >= 10"
            " AND n_stop_occ * 1000 div n_words >= 30"
            " THEN 1 ELSE 0 END"
        ).alias("fb"),
    )
    conf = fl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END")).alias("n11"),
        F.sum(F.expr("CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END")).alias("n10"),
        F.sum(F.expr("CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END")).alias("n01"),
        F.sum(F.expr("CASE WHEN fa = 0 AND fb = 0 THEN 1 ELSE 0 END")).alias("n00"),
    )
    return conf.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("(n11 + n00) * 1000000 div n").alias("po_ppm"),
        F.expr(
            "CAST((CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10))"
            " * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * (n11 + n00)"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "    + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10)))"
            " * 1000000 div (CAST(n AS DECIMAL(38,0)) * n"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "    + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10)))"
            " AS BIGINT)"
        ).alias("kappa_micro"),
    )


ORACLE_LEN_CONFOUND = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pd AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(len(list_filter(toks, x -> list_contains(
                ['the','a','of','to','and','in','is','it','for','on'],
                x))) AS BIGINT) AS n_stop
        FROM t),
    per_doc AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
            n_stop * 1000 // n_words AS y
        FROM documents JOIN pd USING (doc_id)),
    m AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT)) AS sx,
            SUM(CAST(y AS HUGEINT)) AS sy,
            SUM(CAST(x AS HUGEINT) * x) AS sxx,
            SUM(CAST(y AS HUGEINT) * y) AS syy,
            SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM per_doc GROUP BY source),
    br AS (SELECT source, n AS n_docs, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dsx,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dsy,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dsxx,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dsyy,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dsxy
        FROM m)
    SELECT source, n_docs,
        {DET.det_round_sql(
            '(dn * dsxy - dsx * dsy) / NULLIF('
            'sqrt((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)),'
            ' 0.0)', 6
        )} AS corr_len_stop
    FROM br
"""


@query(ORACLE_LEN_CONFOUND)
def q_quality_length_confound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confound screen per source: Pearson correlation between document
    length (n_chars) and stopword density (permille) — when a quality
    proxy correlates with length inside a source, a quality-filtered
    mix silently becomes a length-filtered mix (the Simpson's-paradox
    audit for curation configs).  Same exact-moment machinery as
    lineitem_corr_matrix, grouped by source: integer x/y, DECIMAL(38,0)
    moment sums, VARCHAR-bridged closed form, det_round(6).  Sources
    with zero variance in either variable emit NULL (NULLIF on the
    denominator).

    Scale shape: one (doc, token) count-table pass to per-doc stats,
    a doc-cardinality join back to the docs projection, then a
    source-cardinality moment aggregation."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            TX.tokens(TX.normalize_text(F.col("text")))
        ).alias("tok"),
    )
    stop = "('the','a','of','to','and','in','is','it','for','on')"
    pd_ = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(
            F.expr(f"CASE WHEN tok IN {stop} THEN 1 ELSE 0 END")
        ).alias("n_stop"),
    )
    per_doc = docs.select("doc_id", "source", "n_chars").join(
        pd_, "doc_id"
    ).select(
        "source",
        F.col("n_chars").alias("x"),
        F.expr("n_stop * 1000 div n_words").alias("y"),
    )
    dec = "DECIMAL(38,0)"
    m = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}))").alias("sx"),
        F.expr(f"SUM(CAST(y AS {dec}))").alias("sy"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("sxx"),
        F.expr(f"SUM(CAST(y AS {dec}) * y)").alias("syy"),
        F.expr(f"SUM(CAST(x AS {dec}) * y)").alias("sxy"),
    )
    br = m.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("CAST(n AS DOUBLE)").alias("dn"),
        *[
            F.expr(f"CAST(CAST({c} AS STRING) AS DOUBLE)").alias(
                "d" + c
            )
            for c in ("sx", "sy", "sxx", "syy", "sxy")
        ],
    )
    num = F.col("dn") * F.col("dsxy") - F.col("dsx") * F.col("dsy")
    den = F.sqrt(
        (F.col("dn") * F.col("dsxx") - F.col("dsx") * F.col("dsx"))
        * (F.col("dn") * F.col("dsyy") - F.col("dsy") * F.col("dsy"))
    )
    return br.select(
        "source",
        "n_docs",
        DET.det_round(num / F.nullif(den, F.lit(0.0)), 6).alias(
            "corr_len_stop"
        ),
    )


_NDCG_DISC = lambda pos: DET.det_round_sql(  # noqa: E731
    f"ln(CAST({pos} AS DOUBLE) + 1.0) / {math.log(2.0)!r}", 9
)

ORACLE_NDCG = (
    "WITH "
    + _BM25_CTES
    + f""",
    top10 AS (SELECT doc_id, n_terms_hit, bm25 FROM bm25_out
        ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
    g AS (SELECT doc_id,
            CAST((1 << n_terms_hit) - 1 AS BIGINT) AS gain,
            ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS i
        FROM top10),
    ranked AS (SELECT gain, i,
            ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id ASC) AS j
        FROM g),
    terms AS (SELECT
            CAST(FLOOR((CAST(gain AS DOUBLE) / ({_NDCG_DISC('i')}))
                * 1000000000.0 + 0.5) AS BIGINT) AS t_nano,
            CAST(FLOOR((CAST(gain AS DOUBLE) / ({_NDCG_DISC('j')}))
                * 1000000000.0 + 0.5) AS BIGINT) AS ti_nano
        FROM ranked)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
        CAST(SUM(t_nano) AS BIGINT) AS dcg_nano,
        CAST(SUM(ti_nano) AS BIGINT) AS idcg_nano,
        CAST(SUM(t_nano) AS BIGINT) * 1000000
            // CAST(SUM(ti_nano) AS BIGINT) AS ndcg_ppm
    FROM terms
"""
)


@query(ORACLE_NDCG)
def q_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking against graded term-coverage
    relevance (rel = distinct query terms present, gain = 2^rel - 1) —
    the ranking-quality eval that closes the retrieval loop
    (bm25_scores produces the ranking, this scores it).  Each DCG term
    gain/log2(rank+1) is det-rounded then HALF-UP-QUANTIZED to int64
    nano-units before summing (the km/markov idiom: the cumulative is
    exact integer), and NDCG emits as exact ppm of the ideal ordering.

    Scale shape: the ranking cut is TakeOrdered(10) on the scored
    postings aggregate; every window after runs on 10 rows."""
    from pyspark.sql import Window

    scores = q_bm25_scores(spark, sf_dir)
    top10 = scores.orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(10)
    w_r = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    gain = F.expr("CAST(shiftleft(1, n_terms_hit) - 1 AS BIGINT)")
    g = top10.select(
        gain.alias("gain"),
        "doc_id",
        F.row_number().over(w_r).alias("i"),
    )
    w_i = Window.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
    disc = lambda pos: DET.det_round(  # noqa: E731
        F.log(pos.cast("double") + F.lit(1.0)) / F.lit(math.log(2.0)), 9
    )
    t_nano = F.floor(
        (F.col("gain").cast("double") / disc(F.col("i")))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("bigint")
    ranked = g.withColumn("j", F.row_number().over(w_i)).select(
        t_nano.alias("t_nano"),
        F.floor(
            (F.col("gain").cast("double") / disc(F.col("j")))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ti_nano"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.sum("t_nano").alias("dcg_nano"),
        F.sum("ti_nano").alias("idcg_nano"),
    ).select(
        "n_ranked",
        "dcg_nano",
        "idcg_nano",
        F.expr("dcg_nano * 1000000 div idcg_nano").alias("ndcg_ppm"),
    )


ORACLE_VOCAB_PSI = f"""
    WITH nd AS (SELECT COUNT(*) // 2 AS half FROM documents),
    toks AS (SELECT doc_id < (SELECT half FROM nd) AS first_half,
            unnest({_TOKS}) AS tok
        FROM documents),
    cnt AS (SELECT tok,
            CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT)
                AS c1,
            CAST(SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT)
                AS c2
        FROM toks GROUP BY tok),
    top AS (SELECT * FROM cnt ORDER BY c1 + c2 DESC, tok ASC LIMIT 100),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
            CAST(SUM(c2) AS BIGINT) AS t2,
            CAST(COUNT(*) AS BIGINT) AS v
        FROM cnt)
    SELECT tok, c1, c2,
        {DET.det_round_sql(
            "(CAST(c2 + 1 AS DOUBLE) / CAST(t2 + v AS DOUBLE)"
            " - CAST(c1 + 1 AS DOUBLE) / CAST(t1 + v AS DOUBLE))"
            " * ("
            + DET.det_round_sql(
                "ln(CAST(c2 + 1 AS DOUBLE) / CAST(t2 + v AS DOUBLE))", 9)
            + " - "
            + DET.det_round_sql(
                "ln(CAST(c1 + 1 AS DOUBLE) / CAST(t1 + v AS DOUBLE))", 9)
            + ")", 9
        )} AS psi_contrib
    FROM top CROSS JOIN tot
"""


@query(ORACLE_VOCAB_PSI)
def q_vocab_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between corpus halves (ingest order): PSI
    contribution per top-100 token — the token-level companion to
    psi_value_drift that catches topic/source drift a value-PSI can't.
    Add-one smoothing keeps ratios finite; each contribution
    (p2 - p1)·ln(p2/p1) emits per token det_round(9) (no cross-token
    sum — the mutual_info order-independence idiom).  Top-100 cut is
    TakeOrdered with token tiebreak.

    Scale shape: token counts partial-combine per half; the PSI table
    is 100 rows joined to two broadcast one-row totals."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = _parquet_nrows(f"{sf_dir}/documents.parquet")
    half = n_docs // 2
    toks = docs.select(
        (F.col("doc_id") < F.lit(half)).alias("first_half"),
        F.explode(
            TX.tokens(TX.normalize_text(F.col("text")))
        ).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.expr("CASE WHEN first_half THEN 1 ELSE 0 END")).alias(
            "c1"
        ),
        F.sum(F.expr("CASE WHEN first_half THEN 0 ELSE 1 END")).alias(
            "c2"
        ),
    )
    top = cnt.orderBy(
        F.expr("c1 + c2").desc(), F.col("tok").asc()
    ).limit(100)
    tot = cnt.agg(
        F.sum("c1").alias("t1"), F.sum("c2").alias("t2"),
        F.count(F.lit(1)).alias("v"),
    )
    j = top.crossJoin(F.broadcast(tot))
    p1 = (F.col("c1") + F.lit(1)).cast("double") / (
        F.col("t1") + F.col("v")
    ).cast("double")
    p2 = (F.col("c2") + F.lit(1)).cast("double") / (
        F.col("t2") + F.col("v")
    ).cast("double")
    ln9 = lambda c: DET.det_round(F.log(c), 9)  # noqa: E731
    return j.select(
        "tok",
        "c1",
        "c2",
        DET.det_round((p2 - p1) * (ln9(p2) - ln9(p1)), 9).alias(
            "psi_contrib"
        ),
    )


_ALERT_RULES = [
    ("spark_query", ["spark", "query"]),
    ("table_join", ["table", "join"]),
    ("error_watch", ["error", "failed"]),
    ("data_stream", ["data", "stream"]),
]


_ALERT_VALUES = ", ".join(
    "('%s', [%s])" % (name, ", ".join(f"'{t}'" for t in terms))
    for name, terms in _ALERT_RULES
)

ORACLE_PERCOLATOR = f"""
    WITH rules(rule, terms) AS (VALUES {_ALERT_VALUES}),
    toks AS (SELECT doc_id, list_distinct({_TOKS}) AS ts
        FROM documents),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    m AS (SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_matches,
            MIN(doc_id) AS first_doc
        FROM toks CROSS JOIN rules
        WHERE len(list_filter(terms, t -> NOT list_contains(ts, t)))
            = 0
        GROUP BY rule)
    SELECT rule, n_matches,
        n_matches * 1000000 // (SELECT n_docs FROM nd) AS match_ppm,
        first_doc
    FROM m
"""


@query(ORACLE_PERCOLATOR)
def q_percolator_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator / reverse search: a fixed rule set (term lists) is
    matched against every document — the standing-alert shape
    (saved searches, brand monitoring, PII watchlists) where RULES are
    the small side and the corpus streams past them.  A doc matches a
    rule when it contains ALL the rule's terms.  Per rule: match
    count, ppm of corpus, earliest matching doc.

    Scale shape: rules broadcast (literal VALUES on both engines), the
    corpus tokenizes once into a token SET, the match test is
    array-containment fused into the scan; one rule-cardinality
    aggregation."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = _parquet_nrows(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.array_distinct(
            TX.tokens(TX.normalize_text(F.col("text")))
        ).alias("ts"),
    )
    rules = spark.createDataFrame(
        [(name, terms) for name, terms in _ALERT_RULES],
        "rule STRING, terms ARRAY<STRING>",
    )
    m = (
        toks.crossJoin(F.broadcast(rules))
        .filter(
            F.size(
                F.array_except(F.col("terms"), F.col("ts"))
            )
            == 0
        )
        .groupBy("rule")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
        )
    )
    return m.select(
        "rule",
        "n_matches",
        F.expr(f"n_matches * 1000000 div {n_docs}").alias(
            "match_ppm"
        ),
        "first_doc",
    )


ORACLE_CHAR_ENTROPY = f"""
    WITH t AS (SELECT source,
            lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
        FROM documents),
    bg AS (SELECT source,
            unnest(list_transform(range(1, length(s)),
                i -> substr(s, i, 2))) AS bg
        FROM t WHERE length(s) >= 2),
    cnt AS (SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS c
        FROM bg GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS total,
            CAST(COUNT(*) AS BIGINT) AS n_bigram_types
        FROM cnt GROUP BY source),
    per AS (SELECT cnt.source, total, n_bigram_types,
            CAST(FLOOR((CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
                * ({DET.det_round_sql('ln(CAST(total AS DOUBLE))', 9)}
                   - {DET.det_round_sql('ln(CAST(c AS DOUBLE))', 9)})
                * 1000000000.0 + 0.5) AS BIGINT) AS t_nano
        FROM cnt JOIN tot ON cnt.source = tot.source)
    SELECT source, total, n_bigram_types,
        CAST(SUM(t_nano) AS BIGINT) AS entropy_nano
    FROM per GROUP BY source, total, n_bigram_types
"""


@query(ORACLE_CHAR_ENTROPY)
def q_char_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character-bigram distribution per source,
    in exact nano-nats — the dependency-free compressibility proxy
    (low bigram entropy = repetitive/templated text; the signal a
    zlib-ratio filter gives, computable relationally).  Each
    -p·ln(p) term = (c/total)·(ln total - ln c) with det-rounded lns,
    HALF-UP-QUANTIZED to int64 per bigram BEFORE the per-source sum
    (the markov_entropy order-independence idiom).

    Scale shape: char-bigram explode partial-combines to (source,
    bigram) cardinality; source totals broadcast back; the entropy
    rollup is dimension-sized."""
    docs = _t(spark, sf_dir, "documents")
    chars = F.split(TX.normalize_text(F.col("text")), "")
    m = F.size(F.col("_c")) - 1
    bg = F.when(
        m >= 1,
        F.zip_with(
            F.slice(F.col("_c"), 1, m),
            F.slice(F.col("_c"), 2, m),
            lambda a, b: F.concat(a, b),
        ),
    ).otherwise(F.array())
    cnt = (
        docs.select("source", chars.alias("_c"))
        .select("source", F.explode(bg).alias("bg"))
        .groupBy("source", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_bigram_types"),
    )
    ln9 = lambda c: DET.det_round(  # noqa: E731
        F.log(F.col(c).cast("double")), 9
    )
    term = (
        F.col("c").cast("double") / F.col("total").cast("double")
    ) * (ln9("total") - ln9("c"))
    per = cnt.join(F.broadcast(tot), "source").select(
        "source",
        "total",
        "n_bigram_types",
        F.floor(term * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("t_nano"),
    )
    return per.groupBy("source", "total", "n_bigram_types").agg(
        F.sum("t_nano").alias("entropy_nano")
    )


ORACLE_BOILERPLATE_SHINGLES = f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, source,
            unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS gram
          FROM t WHERE len(toks) >= 2),
    src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src_docs
            FROM documents GROUP BY source),
    gdf AS (SELECT source, gram,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM g GROUP BY source, gram),
    boiler AS (SELECT gdf.source, gram
        FROM gdf JOIN src ON gdf.source = src.source
        WHERE df >= GREATEST(3, (n_src_docs + 9) // 10)),
    flag AS (SELECT g.source, g.doc_id,
            CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END AS is_b
        FROM g LEFT JOIN boiler b
          ON g.source = b.source AND g.gram = b.gram),
    perdoc AS (SELECT source, doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_grams,
            CAST(SUM(is_b) AS BIGINT) AS n_boiler
        FROM flag GROUP BY source, doc_id),
    agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_grams) AS BIGINT) AS gram_occurrences,
            CAST(SUM(n_boiler) AS BIGINT) AS boiler_occurrences,
            CAST(SUM(n_boiler * 1000000 // n_grams) AS BIGINT)
                // COUNT(*) AS mean_cov_ppm
        FROM perdoc GROUP BY source),
    bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_boiler_grams
        FROM boiler GROUP BY source)
    SELECT agg.source, n_docs,
        CAST(COALESCE(bs.n_boiler_grams, 0) AS BIGINT)
            AS n_boiler_grams,
        gram_occurrences, boiler_occurrences,
        CAST(mean_cov_ppm AS BIGINT) AS mean_cov_ppm
    FROM agg LEFT JOIN bs ON agg.source = bs.source
    ORDER BY agg.source
"""


@query(ORACLE_BOILERPLATE_SHINGLES)
def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection, the CCNet-style curation pass:
    a bigram shingle is boilerplate within a source when it appears in
    >= max(3, ceil(10%)) of that source's documents (headers, nav
    chrome, license blurbs repeat across a crawl domain; body text
    doesn't).  Reports, per source, the boilerplate vocabulary size
    and how much of an average document it covers — the "how much of
    this feed is template" number a pretraining-mix owner reads.

    All-integer outputs (counts + exact ppm via integer division) —
    hash-safe across engines.

    Scale shape: gram explode is token volume (the standard gram
    class here); the df aggregation partial-combines to (source,
    gram) cardinality; the flag join is equi on (source, gram) —
    boilerplate rows join back against gram instances without any
    broadcast assumption (the boiler side is data-dependent, so it
    stays a shuffle join and AQE may demote it to broadcast when
    small).  Docs with <2 tokens carry no shingles and drop out on
    both engines."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        TX.tokens(TX.normalize_text(F.col("text"))).alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("toks") >= 2, TX.ngram_strings(F.col("toks"), 2)
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_src_docs")
    )
    gdf = grams.groupBy("source", "gram").agg(
        F.countDistinct("doc_id").alias("df")
    )
    boiler = (
        gdf.join(F.broadcast(src), "source")
        .filter(
            F.col("df")
            >= F.greatest(F.lit(3), F.expr("(n_src_docs + 9) div 10"))
        )
        .select("source", "gram")
    )
    flagged = grams.join(
        boiler.withColumn("is_b", F.lit(1)), ["source", "gram"], "left"
    )
    perdoc = flagged.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("is_b"), F.lit(0))).alias("n_boiler"),
    )
    agg = perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("gram_occurrences"),
        F.sum("n_boiler").alias("boiler_occurrences"),
        F.expr(
            "sum(n_boiler * 1000000 div n_grams) div count(*)"
        ).alias("mean_cov_ppm"),
    )
    bs = boiler.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_boiler_grams")
    )
    return (
        agg.join(bs, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_boiler_grams"), F.lit(0)).alias(
                "n_boiler_grams"
            ),
            "gram_occurrences",
            "boiler_occurrences",
            "mean_cov_ppm",
        )
        .orderBy("source")
    )


ORACLE_PHRASE_SEARCH = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pos AS (SELECT doc_id, u.i AS pos, toks[u.i + 1] AS token
            FROM t, unnest(range(len(toks))) AS u(i)),
    t1 AS (SELECT doc_id, pos AS p1 FROM pos WHERE token = 'table'),
    t2 AS (SELECT doc_id, pos AS p2 FROM pos WHERE token = 'value')
    SELECT t1.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_matches,
        CAST(MIN(p1) AS BIGINT) AS first_pos
    FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id AND t2.p2 = t1.p1 + 1
    GROUP BY t1.doc_id ORDER BY t1.doc_id
"""


@query(ORACLE_PHRASE_SEARCH)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query ("table value" as ADJACENT tokens) via
    the positional-inverted-index join: per-term posting lists with
    positions, intersected on (doc_id, pos+1 = pos) — the classic IR
    phrase primitive that bag-of-words containment can't answer.

    Scale shape: the token filters cut the exploded postings to
    single-term lists BEFORE the join (filter-then-join, not
    join-then-filter); the adjacency condition is folded into the
    equi-join key (doc_id, p1+1) so Catalyst plans a hash/sort-merge
    join, never a broadcast-nested-loop on the range predicate."""
    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(
            TX.tokens(TX.normalize_text(F.col("text")))
        ).alias("pos", "token"),
    )
    t1 = pos.filter(F.col("token") == "table").select(
        "doc_id",
        F.col("pos").alias("p1"),
        (F.col("pos") + 1).alias("pnext"),
    )
    t2 = pos.filter(F.col("token") == "value").select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("p2")
    )
    m = t1.join(
        t2,
        (t1["doc_id"] == t2["doc_id2"]) & (t1["pnext"] == t2["p2"]),
    )
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("p1").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


ORACLE_PPMI_COOC = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    scal AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS nu,
            CAST(SUM(GREATEST(len(toks) - 1, 0)
                + GREATEST(len(toks) - 2, 0)) AS BIGINT) AS np
        FROM t),
    pr AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> CASE WHEN toks[i] <= toks[i + 1]
                 THEN toks[i] || ' ' || toks[i + 1]
                 ELSE toks[i + 1] || ' ' || toks[i] END)) AS pr
        FROM t WHERE len(toks) >= 2
        UNION ALL
        SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
            i -> CASE WHEN toks[i] <= toks[i + 2]
                 THEN toks[i] || ' ' || toks[i + 2]
                 ELSE toks[i + 2] || ' ' || toks[i] END)) AS pr
        FROM t WHERE len(toks) >= 3),
    cp AS (SELECT pr, CAST(COUNT(*) AS BIGINT) AS cxy FROM pr
        GROUP BY pr HAVING COUNT(*) >= 5),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    parts AS (SELECT pr, cxy,
            string_split(pr, ' ')[1] AS x,
            string_split(pr, ' ')[2] AS y
        FROM cp),
    scored AS (SELECT pr, cxy, ux.c AS cx, uy.c AS cy,
            {DET.det_round_sql(
                'GREATEST(0.0, ln(CAST(cxy AS DOUBLE))'
                ' + 2.0 * ln(CAST((SELECT nu FROM scal) AS DOUBLE))'
                ' - ln(CAST((SELECT np FROM scal) AS DOUBLE))'
                ' - ln(CAST(ux.c AS DOUBLE))'
                ' - ln(CAST(uy.c AS DOUBLE)))', 6
            )} AS ppmi
        FROM parts JOIN uni ux ON parts.x = ux.w
                   JOIN uni uy ON parts.y = uy.w)
    SELECT pr, cxy, cx, cy, ppmi FROM scored
    ORDER BY ppmi DESC, pr LIMIT 25
"""


@query(ORACLE_PPMI_COOC)
def q_ppmi_window_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PPMI co-occurrence (the word-embedding prep matrix —
    Levy & Goldberg showed SGNS factorizes exactly this): unordered
    token pairs within a +-2 window, min count 5, scored
    PPMI = max(0, ln cxy + 2 ln n_uni - ln n_pairs - ln cx - ln cy)
    in log space with the pmi_bigrams operation-order contract
    (identical left-to-right fold on both engines, det_round(6)).
    Top 25 by score, pair-string tie-break.

    Scale shape: window pairs come from ZIPPED SHIFTED SLICES (two
    array ops per doc — never a positional self-join of the corpus);
    pair counts partial-combine at pair cardinality; margins join at
    word cardinality; TakeOrdered finish."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    )

    def upairs(d: int):
        m = F.size("toks") - d
        a = F.slice(F.col("toks"), 1, m)
        b = F.slice(F.col("toks"), 1 + d, m)
        pair = F.zip_with(
            a,
            b,
            lambda x, y: F.concat_ws(
                " ", F.least(x, y), F.greatest(x, y)
            ),
        )
        return F.when(F.size("toks") >= d + 1, pair).otherwise(
            F.array().cast("array<string>")
        )

    stats = toks.agg(
        F.sum(F.size("toks")).alias("nu"),
        F.sum(
            F.greatest(F.size("toks") - 1, F.lit(0))
            + F.greatest(F.size("toks") - 2, F.lit(0))
        ).alias("np"),
    ).head()
    n_uni, n_pairs = stats["nu"], stats["np"]
    pairs = (
        toks.select(
            F.explode(F.concat(upairs(1), upairs(2))).alias("pr")
        )
        .groupBy("pr")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= 5)
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    parts = pairs.select(
        "pr",
        "cxy",
        F.split(F.col("pr"), " ").getItem(0).alias("x"),
        F.split(F.col("pr"), " ").getItem(1).alias("y"),
    )
    ux = uni.select(F.col("w").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("w").alias("y"), F.col("c").alias("cy"))
    scored = (
        parts.join(ux, "x")
        .join(uy, "y")
        .select(
            "pr",
            "cxy",
            "cx",
            "cy",
            DET.det_round(
                F.greatest(
                    F.lit(0.0),
                    F.log(F.col("cxy").cast("double"))
                    + F.lit(2.0) * F.log(F.lit(float(n_uni)))
                    - F.log(F.lit(float(n_pairs)))
                    - F.log(F.col("cx").cast("double"))
                    - F.log(F.col("cy").cast("double")),
                ),
                6,
            ).alias("ppmi"),
        )
    )
    return scored.orderBy(F.desc("ppmi"), "pr").limit(25)


_RAKE_STOPS = "('the', 'a', 'of', 'to', 'and', 'in', 'is', 'it', 'for', 'on')"


ORACLE_RAKE = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pos AS MATERIALIZED (SELECT doc_id, u.i AS pos, toks[u.i + 1] AS token,
            toks[u.i + 1] IN {_RAKE_STOPS} AS is_stop
        FROM t, unnest(range(len(toks))) AS u(i)),
    seg AS (SELECT doc_id, pos, token,
            SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS seg
        FROM pos),
    ph AS MATERIALIZED (SELECT doc_id, seg,
            string_agg(token, ' ' ORDER BY pos) AS phrase,
            CAST(COUNT(*) AS BIGINT) AS plen
        FROM seg WHERE token NOT IN {_RAKE_STOPS}
        GROUP BY doc_id, seg),
    words AS (SELECT unnest(string_split(phrase, ' ')) AS w,
            plen - 1 AS deg1
        FROM ph),
    wstat AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
            CAST(SUM(deg1) AS BIGINT) AS deg
        FROM words GROUP BY w),
    pdist AS MATERIALIZED (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
            ROW_NUMBER() OVER (ORDER BY phrase) AS pid
        FROM ph GROUP BY phrase),
    pw AS (SELECT pid, unnest(string_split(phrase, ' ')) AS w
        FROM pdist),
    sc AS (SELECT pid,
            CAST(SUM(deg * 1000000 // freq) AS BIGINT) AS score_ppm
        FROM pw JOIN wstat ON pw.w = wstat.w GROUP BY pid)
    SELECT p.phrase, p.n_occ, sc.score_ppm
    FROM sc JOIN pdist p USING (pid)
    ORDER BY score_ppm DESC, p.phrase LIMIT 15
"""


@query(ORACLE_RAKE)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public): candidate
    phrases are maximal stopword-delimited token runs; word score =
    degree/frequency over phrase co-membership (deg = sum of
    (phrase_len - 1) across a word's phrases); phrase score = sum of
    its words' scores.  Scores in exact integer ppm (deg * 1e6 div
    freq, summed) so both engines agree bit-for-bit; top 15 phrases
    by (score, phrase).

    Scale shape: segment ids come from a PARTITIONED cumulative
    window (by doc); phrase assembly is a per-(doc, segment) ordered
    aggregation; word stats partial-combine at word cardinality; the
    phrase-word score join explodes DISTINCT phrases only."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(
            TX.tokens(TX.normalize_text(F.col("text")))
        ).alias("pos", "token"),
    ).withColumn("is_stop", F.expr(f"token IN {_RAKE_STOPS}"))
    wnd = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = pos.withColumn(
        "seg", F.sum(F.col("is_stop").cast("long")).over(wnd)
    ).filter(~F.col("is_stop"))
    phrases = seg.groupBy("doc_id", "seg").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("pos", "token"))
                ),
                lambda s: s["token"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    words = phrases.select(
        F.explode(F.split("phrase", " ")).alias("w"),
        (F.col("plen") - 1).alias("deg1"),
    )
    wstat = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("deg1").alias("deg"),
    )
    pdist = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    pw = pdist.select(
        "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        pw.join(wstat, "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.sum(F.expr("deg * 1000000 div freq")).alias("score_ppm")
        )
    )
    return scored.orderBy(
        F.desc("score_ppm"), "phrase"
    ).limit(15)


# sf10 hygiene, A/B-pinned at sf1/sf0.01: pos/ph/pdist MATERIALIZED
# (each is consumed twice — without the boundary the token-position
# stream and the phrase table re-run per consumer), and the scoring
# join/aggregate keyed on integer pid with phrase strings joined back
# only for the final 15 rows, so no multi-million-row hash table holds
# phrase text.  NOTE the query's original sf10 "OOM" was NOT volume:
# glibc mmaps each medium DuckDB block separately and the process hit
# vm.max_map_count (65,530 maps at just 8.4 GB RSS -> bad_alloc); with
# the knob raised (see tools/sweep_scale.py) the query runs in ~60 s.
# The phrase<->pid mapping is 1:1 so the scores are unchanged.

_COVER_STEPS = 8


def _cover_oracle_steps(steps: int) -> str:
    ctes = []
    for i in range(1, steps + 1):
        prev_picks = ", ".join(f"(SELECT doc_id FROM p{j})" for j in range(1, i))
        if i == 1:
            unc = "dg"
        else:
            cov = f"""cov{i} AS MATERIALIZED (
        SELECT DISTINCT gram FROM dg
        WHERE doc_id IN ({prev_picks})),
    """
            unc = f"(SELECT dg.* FROM dg LEFT JOIN cov{i} c ON dg.gram = c.gram WHERE c.gram IS NULL)"
            ctes.append(cov.rstrip().rstrip(","))
        ctes.append(
            f"""p{i} AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
        FROM {unc} u GROUP BY doc_id
        ORDER BY gain DESC, doc_id LIMIT 1)"""
        )
    picks = "\n        UNION ALL ".join(
        f"SELECT {i} AS step, doc_id, gain FROM p{i}"
        for i in range(1, steps + 1)
    )
    return ",\n    ".join(ctes), picks


_COVER_CTES, _COVER_PICKS = _cover_oracle_steps(_COVER_STEPS)

ORACLE_GREEDY_COVER = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dg AS MATERIALIZED (SELECT DISTINCT doc_id,
            unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS gram
        FROM t WHERE len(toks) >= 2),
    {_COVER_CTES},
    picks AS ({_COVER_PICKS})
    SELECT CAST(step AS BIGINT) AS step, doc_id, gain,
        CAST(SUM(gain) OVER (ORDER BY step) AS BIGINT)
            AS total_covered
    FROM picks ORDER BY step
"""


@query(ORACLE_GREEDY_COVER)
def q_greedy_cover_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection (the facility-location
    step instruction-diversity pipelines run): pick, {steps} times,
    the document covering the most NOT-YET-COVERED distinct bigrams
    (tie -> smallest doc_id).  The classic (1 - 1/e) greedy; each
    step reports the marginal gain and the running total.

    Scale shape: per step, one anti-join against the covered-gram
    set (itself a DataFrame derived from the <= {steps} chosen
    doc_ids — no gram data ever sits on the driver) and one
    doc-cardinality count agg; the only driver traffic is the 1-row
    argmax per step."""
    docs = _t(spark, sf_dir, "documents")
    dg = (
        docs.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(
                        TX.tokens(TX.normalize_text(F.col("text")))
                    )
                    >= 2,
                    TX.ngram_strings(
                        TX.tokens(TX.normalize_text(F.col("text"))), 2
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .distinct()
        .localCheckpoint()
    )
    chosen: list[tuple[int, int, int, int]] = []
    chosen_ids: list[int] = []
    total = 0
    for step in range(1, _COVER_STEPS + 1):
        if chosen_ids:
            cdf = spark.createDataFrame(
                [(i,) for i in chosen_ids], "doc_id LONG"
            )
            covered = (
                dg.join(cdf, "doc_id").select("gram").distinct()
            )
            unc = dg.join(covered, "gram", "left_anti")
        else:
            unc = dg
        top = (
            unc.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "doc_id")
            .head()
        )
        if top is None:
            break
        total += top["gain"]
        chosen.append((step, top["doc_id"], top["gain"], total))
        chosen_ids.append(top["doc_id"])
    return spark.createDataFrame(
        chosen,
        "step LONG, doc_id LONG, gain LONG, total_covered LONG",
    ).orderBy("step")


q_greedy_cover_docs.__doc__ = q_greedy_cover_docs.__doc__.format(
    steps=_COVER_STEPS
)


ORACLE_NEG_SAMPLING = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    wn AS (SELECT w, c,
            CAST(FLOOR(exp(0.75 * ln(CAST(c AS DOUBLE)))
                * 1000000000.0 + 0.5) AS BIGINT) AS w_nano
        FROM uni),
    tot AS (SELECT CAST(SUM(w_nano) AS BIGINT) AS tot FROM wn)
    SELECT w, c, w_nano,
        CAST(CAST(w_nano AS HUGEINT) * 1000000
            // (SELECT tot FROM tot) AS BIGINT) AS share_ppm
    FROM wn ORDER BY c DESC, w
"""


@query(ORACLE_NEG_SAMPLING)
def q_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table: unigram counts raised to the
    3/4 power (Mikolov et al. 2013 — flattens the head so frequent
    words aren't oversampled), normalized to exact ppm shares.  The
    fractional power is exp(0.75 ln c) quantized HALF-UP to int64
    nano-units BEFORE the normalizing sum (the km_survival nano-nat
    idiom: per-term quantization makes the cross-row sum order-
    independent and engine-exact); shares are integer divisions of
    those nanos.

    Scale shape: one token-cardinality aggregate; the weight math is
    per-row; the normalizer is a single-row sum over word cardinality
    joined back broadcast."""
    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.select(
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wn = uni.select(
        "w",
        "c",
        F.expr(
            "CAST(FLOOR(exp(0.75 * ln(CAST(c AS DOUBLE)))"
            " * 1000000000.0 + 0.5) AS BIGINT)"
        ).alias("w_nano"),
    )
    tot = wn.agg(F.sum("w_nano").alias("tot"))
    return (
        wn.join(F.broadcast(tot))
        .select(
            "w",
            "c",
            "w_nano",
            F.expr(
                "CAST(CAST(w_nano AS DECIMAL(38,0)) * 1000000"
                " div tot AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy(F.desc("c"), "w")
    )


ORACLE_BURROWS_DELTA = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source, unnest(toks) AS w FROM t)
        GROUP BY source, w),
    totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tt FROM cnt
        GROUP BY source),
    words AS (SELECT DISTINCT w FROM cnt),
    grid AS (SELECT totals.source, words.w,
            COALESCE(cnt.c, 0) * 1000000 // totals.tt AS f
        FROM totals CROSS JOIN words
        LEFT JOIN cnt ON cnt.source = totals.source
                     AND cnt.w = words.w),
    mom AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(f) AS BIGINT) AS s1,
            SUM(CAST(f AS HUGEINT) * f) AS s2
        FROM grid GROUP BY w),
    sig AS (SELECT w,
            sqrt(CAST(CAST(CAST(n AS HUGEINT) * s2
                - CAST(s1 AS HUGEINT) * s1 AS VARCHAR) AS DOUBLE))
                / CAST(n AS DOUBLE) AS sigma
        FROM mom),
    pairs AS (SELECT a.source AS sa, b.source AS sb, a.w,
            a.f AS fa, b.f AS fb, sig.sigma
        FROM grid a JOIN grid b ON a.w = b.w AND a.source < b.source
        JOIN sig ON a.w = sig.w),
    terms AS (SELECT sa, sb,
            CASE WHEN sigma > 0.0
                 THEN CAST(FLOOR(ABS(fa - fb) / sigma
                     * 1000000000.0 + 0.5) AS BIGINT)
                 ELSE NULL END AS term_nano
        FROM pairs)
    SELECT sa, sb, CAST(COUNT(term_nano) AS BIGINT) AS n_words,
        CAST(CAST(SUM(term_nano) AS HUGEINT)
            // COUNT(term_nano) AS BIGINT) AS delta_nano
    FROM terms GROUP BY sa, sb ORDER BY sa, sb
"""


@query(ORACLE_BURROWS_DELTA)
def q_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources (the
    authorship-attribution classic, Burrows 2002): per-source relative
    word frequencies in exact ppm over the DENSE source x word grid
    (absent words count as 0 — skipping them understates distance),
    per-word population std via exact integer moments + VARCHAR
    bridge, and Delta(s,t) = mean_w |f_sw - f_tw| / sigma_w with each
    term HALF-UP-quantized to int64 nanos BEFORE the word sum (the
    order-independence idiom); sigma=0 words excluded from term and
    denominator alike.

    Scale shape: the corpus collapses to (source, word) cardinality
    in one agg; the dense grid, moments, and the source-pair join all
    live at dim cardinality (sources x words) — broadcast class."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    words = cnt.select("w").distinct()
    grid = (
        totals.crossJoin(F.broadcast(words))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "COALESCE(c, 0) * 1000000 div t"
            ).alias("f"),
        )
    )
    mom = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f").alias("s1"),
        F.expr("SUM(CAST(f AS DECIMAL(38,0)) * f)").alias("s2"),
    )
    sig = mom.select(
        "w",
        F.expr(
            "CAST(CAST(CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1 AS STRING) AS DOUBLE)"
        ).alias("dvar_num"),
        F.col("n").cast("double").alias("dn"),
    ).select(
        "w",
        (F.sqrt(F.col("dvar_num")) / F.col("dn")).alias("sigma"),
    )
    a = grid.select(
        F.col("source").alias("sa"), "w", F.col("f").alias("fa")
    )
    b = grid.select(
        F.col("source").alias("sb"), "w", F.col("f").alias("fb")
    )
    pairs = (
        a.join(b, "w")
        .filter(F.col("sa") < F.col("sb"))
        .join(F.broadcast(sig), "w")
    )
    terms = pairs.select(
        "sa",
        "sb",
        F.when(
            F.col("sigma") > 0.0,
            F.expr(
                "CAST(FLOOR(ABS(fa - fb) / sigma"
                " * 1000000000.0 + 0.5) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(None).cast("long"))
        .alias("term_nano"),
    )
    return (
        terms.groupBy("sa", "sb")
        .agg(
            F.count("term_nano").alias("n_words"),
            F.expr(
                "CAST(SUM(term_nano) div COUNT(term_nano) AS BIGINT)"
            ).alias("delta_nano"),
        )
        .orderBy("sa", "sb")
    )


# ---------------------------------------------------------------- wave 6y

# ln(2) as an exact double literal — F.log(F.lit(2.0)) would trust both
# engines' ln() to round the constant identically; a literal removes
# the bet entirely
_LN2 = "0.6931471805599453"


def _int_bridge_sql(prod: str) -> str:
    return f"CAST(CAST({prod} AS VARCHAR) AS DOUBLE)"


ORACLE_JS_DIVERGENCE = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    u AS (SELECT source, unnest(toks) AS w FROM t),
    uni AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM u GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
            FROM uni GROUP BY 1),
    j AS (SELECT a.source AS sa, b.source AS sb, a.c AS ca, b.c AS cb,
            ta.n AS na, tb.n AS nb
        FROM uni a JOIN uni b ON a.w = b.w AND a.source < b.source
        JOIN tot ta ON ta.source = a.source
        JOIN tot tb ON tb.source = b.source),
    terms AS (SELECT sa, sb, ca, cb, na, nb,
            CAST(FLOOR((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                * LN({_int_bridge_sql("2 * CAST(ca AS HUGEINT) * nb")}
                     / {_int_bridge_sql(
                         "CAST(ca AS HUGEINT) * nb"
                         " + CAST(cb AS HUGEINT) * na"
                     )})
                * 1000000000.0 + 0.5) AS BIGINT) AS tna,
            CAST(FLOOR((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                * LN({_int_bridge_sql("2 * CAST(cb AS HUGEINT) * na")}
                     / {_int_bridge_sql(
                         "CAST(ca AS HUGEINT) * nb"
                         " + CAST(cb AS HUGEINT) * na"
                     )})
                * 1000000000.0 + 0.5) AS BIGINT) AS tnb
        FROM j),
    agg AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_common,
            CAST(SUM(tna + tnb) AS BIGINT) AS common_nano,
            CAST(SUM(ca) AS BIGINT) AS sca,
            CAST(SUM(cb) AS BIGINT) AS scb,
            MAX(na) AS na, MAX(nb) AS nb
        FROM terms GROUP BY 1, 2)
    SELECT sa AS source_a, sb AS source_b, n_common,
        common_nano
        + CAST(FLOOR((CAST(na - sca AS DOUBLE) / CAST(na AS DOUBLE))
            * {_LN2} * 1000000000.0 + 0.5) AS BIGINT)
        + CAST(FLOOR((CAST(nb - scb AS DOUBLE) / CAST(nb AS DOUBLE))
            * {_LN2} * 1000000000.0 + 0.5) AS BIGINT)
        AS js2_nano
    FROM agg
"""


@query(ORACLE_JS_DIVERGENCE)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the distributional-shift matrix a data-mixing run
    consults before blending corpora (symmetric, bounded by ln 2,
    defined even where vocabularies don't overlap — the reasons it
    beats KL here).  Emitted as js2_nano = 2*JS in half-up-quantized
    nano-nats: each common-word term quantizes to int64 BEFORE the
    cross-word sum (the markov_entropy_rate idiom — integer addition
    commutes where a double sum would be partition-order-dependent),
    and the disjoint-vocabulary tail mass enters in closed form as
    (1 - overlap) * ln 2 — no full-outer join needed, since a word
    absent from the other source contributes exactly p*ln2.  Log
    arguments are exact DECIMAL(38,0) integer products bridged to
    double through VARCHAR (the dispersion idiom), det_round(9).

    Scale shape: corpus collapses to (source, word) counts in one
    partial agg; the word self-join produces at most C(sources,2)
    rows per word (sources are a dim attribute); totals broadcast;
    the final matrix is pair-cardinality."""
    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.select(
            "source",
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.groupBy("source").agg(F.sum("c").alias("n"))
    a = uni.select(
        F.col("source").alias("sa"), "w", F.col("c").alias("ca")
    )
    b = uni.select(
        F.col("source").alias("sb"), "w", F.col("c").alias("cb")
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    j = (
        a.join(b, "w")
        .filter(F.col("sa") < F.col("sb"))
        .join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
    )

    def _bridge(prod: str) -> str:
        # exact integer product -> VARCHAR -> double (correctly-rounded
        # string parse on both engines; avoids int128->double casts)
        return f"CAST(CAST({prod} AS STRING) AS DOUBLE)"

    num_a = _bridge("CAST(2 AS DECIMAL(38,0)) * ca * nb")
    num_b = _bridge("CAST(2 AS DECIMAL(38,0)) * cb * na")
    den = _bridge(
        "CAST(ca AS DECIMAL(38,0)) * nb + CAST(cb AS DECIMAL(38,0)) * na"
    )
    # ONE ln per term of the exact-integer ratio — subtracting two
    # separately det-rounded lns doubles the rounding radius to the
    # nano-boundary flip zone (9 of 190 pairs diverged at authoring
    # time); ln of the IEEE-exact ratio leaves ~1e-7 nano of margin
    terms = j.select(
        "sa",
        "sb",
        "ca",
        "cb",
        "na",
        "nb",
        F.expr(
            "CAST(FLOOR((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
            f" * ln({num_a} / {den}) * 1000000000.0 + 0.5) AS BIGINT)"
        ).alias("tna"),
        F.expr(
            "CAST(FLOOR((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
            f" * ln({num_b} / {den}) * 1000000000.0 + 0.5) AS BIGINT)"
        ).alias("tnb"),
    )
    agg = terms.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.col("tna") + F.col("tnb")).alias("common_nano"),
        F.sum("ca").alias("sca"),
        F.sum("cb").alias("scb"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    tail = (
        "CAST(FLOOR((CAST(n{s} - sc{s} AS DOUBLE)"
        f" / CAST(n{{s}} AS DOUBLE)) * {_LN2}"
        " * 1000000000.0 + 0.5) AS BIGINT)"
    )
    return agg.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_common",
        F.expr(
            "common_nano + "
            + tail.format(s="a")
            + " + "
            + tail.format(s="b")
        ).alias("js2_nano"),
    )


ORACLE_FLESCH = f"""
    WITH t AS (SELECT source, text, {_TOKS} AS toks FROM documents),
    per AS (SELECT source,
            CAST(list_sum(list_transform(toks, w ->
                GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))))
                AS BIGINT) AS syl,
            CAST(len(toks) AS BIGINT) AS w_cnt,
            CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                AS BIGINT) AS s_cnt
        FROM t WHERE len(toks) >= 1),
    scored AS (SELECT source,
            206835 - (1015 * w_cnt) // s_cnt
                   - (84600 * syl) // w_cnt AS score_milli
        FROM per),
    g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(score_milli) AS BIGINT) AS s,
            CAST(MIN(score_milli) AS BIGINT) AS min_milli,
            CAST(MAX(score_milli) AS BIGINT) AS max_milli
        FROM scored GROUP BY 1)
    SELECT source, n_docs,
        CAST(CASE WHEN s >= 0 THEN (s // n_docs)
                + ((s % n_docs) * 2 + n_docs) // (2 * n_docs)
            ELSE -(((-s) // n_docs)
                + (((-s) % n_docs) * 2 + n_docs) // (2 * n_docs)) END
            AS BIGINT) AS mean_milli,
        min_milli, max_milli
    FROM g
"""


@query(ORACLE_FLESCH)
def q_flesch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per source: 206.835 - 1.015(W/S) -
    84.6(Syl/W), the readability screen cheap enough to run over a
    whole pretraining corpus (quality classifiers are models;
    readability is arithmetic).  Syllables are the standard
    vowel-group heuristic (runs of [aeiouy], min 1 per word);
    sentences are [.!?]+ runs, min 1.  The per-doc score is EXACT
    integer milli-points — 206835 - (1015*W) div S - (84600*Syl)
    div W, all divisions positive — and the per-source mean uses the
    sign-safe half-up idiom (scores can go negative on dense text,
    so neither engine's negative-div convention may be load-bearing).

    Scale shape: per-row expression work (no UDFs — regexp + list
    higher-order functions), one partial agg to source cardinality."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    syl = F.aggregate(
        F.transform(
            toks,
            lambda t: F.greatest(
                F.lit(1),
                F.size(
                    F.regexp_extract_all(t, F.lit("[aeiouy]+"), F.lit(0))
                ),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, s: acc + s,
    )
    per = docs.select(
        "source",
        syl.alias("syl"),
        F.size(toks).cast("long").alias("w_cnt"),
        F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit("[.!?]+"), F.lit(0)
                )
            ),
        )
        .cast("long")
        .alias("s_cnt"),
    ).filter(F.col("w_cnt") >= 1)
    scored = per.select(
        "source",
        F.expr(
            "206835 - (1015 * CAST(w_cnt AS BIGINT)) div s_cnt"
            " - (84600 * CAST(syl AS BIGINT)) div w_cnt"
        ).alias("score_milli"),
    )
    g = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score_milli").alias("s"),
        F.min("score_milli").alias("min_milli"),
        F.max("score_milli").alias("max_milli"),
    )
    return g.select(
        "source",
        "n_docs",
        F.expr(
            "CASE WHEN s >= 0 THEN (s div n_docs)"
            " + ((s % n_docs) * 2 + n_docs) div (2 * n_docs)"
            " ELSE -(((-s) div n_docs)"
            " + (((-s) % n_docs) * 2 + n_docs) div (2 * n_docs)) END"
        ).alias("mean_milli"),
        "min_milli",
        "max_milli",
    )


ORACLE_SIMPSON = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    u AS (SELECT source, unnest(toks) AS w FROM t),
    uni AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM u GROUP BY 1, 2),
    g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) AS BIGINT) AS n_types,
            CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS coll
        FROM uni GROUP BY 1)
    SELECT source, n_tokens, n_types,
        CAST(1000000 - (coll * 1000000)
            // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
            AS BIGINT) AS simpson_ppm
    FROM g WHERE n_tokens >= 2
"""


@query(ORACLE_SIMPSON)
def q_simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of the word distribution per source: D =
    1 - sum c(c-1) / (n(n-1)), the probability two tokens drawn
    without replacement differ — the concentration complement to
    lang_entropy_by_source (entropy weights the tail, Simpson the
    head; a boilerplate-heavy source scores low here first).  Exact
    ppm: the collision sum runs in DECIMAL(38,0)/HUGEINT and the
    share is one integer division — no doubles anywhere.

    Scale shape: one partial agg to (source, word), one rollup to
    source cardinality."""
    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.select(
            "source",
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = uni.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")
        ).alias("coll"),
    )
    return g.filter(F.col("n_tokens") >= 2).select(
        "source",
        "n_tokens",
        "n_types",
        F.expr(
            "CAST(1000000 - (coll * 1000000)"
            " div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))"
            " AS BIGINT)"
        ).alias("simpson_ppm"),
    )


ORACLE_KNESER_NEY = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    occ AS (SELECT unnest(list_transform(range(len(toks) - 1), i ->
                struct_pack(w1 := toks[i + 1], w2 := toks[i + 2]))) AS p
        FROM t WHERE len(toks) >= 2),
    pairs AS (SELECT p.w1 AS w1, p.w2 AS w2,
            CAST(COUNT(*) AS BIGINT) AS c12
        FROM occ GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
            CAST(COUNT(*) AS BIGINT) AS n1
        FROM pairs GROUP BY 1),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc
        FROM pairs GROUP BY 1),
    ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pairs)
    SELECT pairs.w1, pairs.w2, c12, n1, nc,
        CAST(((CAST(4 AS HUGEINT) * c12 - 3) * t
              + CAST(3 AS HUGEINT) * n1 * nc) * 1000000000
             // (CAST(4 AS HUGEINT) * c1 * t) AS BIGINT) AS p_kn_nano
    FROM pairs JOIN lft ON pairs.w1 = lft.w1
               JOIN rgt ON pairs.w2 = rgt.w2
               CROSS JOIN ty
    ORDER BY p_kn_nano DESC, pairs.w1, pairs.w2 LIMIT 50
"""


# ---------------------------------------------------------------- wave 6z
@query(ORACLE_KNESER_NEY)


def q_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities, top 50 — the
    smoothing every serious n-gram LM uses (continuation counts fix
    the 'San Francisco' problem: 'francisco' is frequent but follows
    almost nothing, so its unigram backoff must be small).  With the
    textbook discount D = 0.75 every term is rational, so the whole
    model is ONE exact integer formula per bigram:

        p = ((4*c12 - 3)*T + 3*N1(w1)*Nc(w2)) / (4*c1*T)   [c12 >= 1]

    (N1 = distinct continuations of w1, Nc = distinct left-contexts
    of w2, T = distinct bigram types; common denominator 4*c1*T),
    emitted as exact nano-units via DECIMAL(38,0)/HUGEINT — numerator
    stays under 1e38 past 1e11 tokens x 1e12 types.  Complements
    bigram_lm_scores (add-one): same count tables, the smoothing the
    reference model family would actually ship.

    Scale shape: one bigram partial agg (token -> bigram-type
    cardinality), two vocab-cardinality stat aggs joined back equi,
    one broadcast scalar (T), TakeOrdered(50) finish."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    m = F.size(F.col("toks")) - 1
    pairs_arr = F.when(
        m >= 1,
        F.zip_with(
            F.slice(F.col("toks"), 1, m),
            F.slice(F.col("toks"), 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )
    pairs = (
        docs.select(toks.alias("toks"))
        .select(F.explode_outer(pairs_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    left = pairs.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1")
    )
    right = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    types = pairs.agg(F.count(F.lit(1)).alias("t"))
    j = (
        pairs.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(types))
    )
    return (
        j.select(
            "w1",
            "w2",
            "c12",
            "n1",
            "nc",
            F.expr(
                "CAST(((CAST(4 AS DECIMAL(38,0)) * c12 - 3) * t"
                " + CAST(3 AS DECIMAL(38,0)) * n1 * nc) * 1000000000"
                " div (CAST(4 AS DECIMAL(38,0)) * c1 * t) AS BIGINT)"
            ).alias("p_kn_nano"),
        )
        .orderBy(F.desc("p_kn_nano"), "w1", "w2")
        .limit(50)
    )


ORACLE_CDC_CHUNKS = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    st AS (SELECT source, toks, CAST(len(toks) AS BIGINT) AS n_toks,
            list_filter(generate_series(1, len(toks)), i ->
                ('0x' || substr(md5(toks[i]), 1, 10))::BIGINT % 64 = 0)
                AS b
        FROM t WHERE len(toks) >= 1),
    per AS (SELECT source, n_toks,
            CAST(len(list_filter(
                list_transform(generate_series(1, len(b) + 1), k ->
                    list_append(b, CAST(n_toks AS BIGINT))[k]
                    - list_prepend(0, b)[k]),
                x -> x > 0)) AS BIGINT) AS n_chunks,
            CAST(list_max(list_filter(
                list_transform(generate_series(1, len(b) + 1), k ->
                    list_append(b, CAST(n_toks AS BIGINT))[k]
                    - list_prepend(0, b)[k]),
                x -> x > 0)) AS BIGINT) AS max_chunk
        FROM st)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
        CAST(SUM(n_toks) * 1000 // SUM(n_chunks) AS BIGINT)
            AS mean_chunk_milli,
        CAST(MAX(max_chunk) AS BIGINT) AS max_chunk
    FROM per GROUP BY 1
"""


@query(ORACLE_CDC_CHUNKS)
def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking profile: token-level Rabin-style
    boundaries (a chunk ends where the token's md5-derived 40-bit
    value is divisible by 64 — expected chunk ~64 tokens, boundaries
    survive insertions/deletions unlike fixed-stride windows), rolled
    up per source: chunks, exact milli mean chunk length, corpus max.
    The chunk-size health report for CDC-based dedup/storage (a
    source whose mean drifts far from 64 has pathological token
    distribution — same md5-int idiom as winnow_fingerprints).

    Scale shape: per-row list expressions (boundaries + chunk lengths
    never leave the row), one agg to source cardinality."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    staged = docs.select("source", toks.alias("toks")).filter(
        F.size(F.col("toks")) >= 1
    )
    bounds = F.filter(
        F.sequence(F.lit(1), F.size(F.col("toks"))),
        lambda i: F.conv(
            F.substring(F.md5(F.element_at(F.col("toks"), i)), 1, 10),
            16,
            10,
        ).cast("long")
        % 64
        == 0,
    )
    st = staged.select(
        "source",
        F.size(F.col("toks")).cast("long").alias("n_toks"),
        bounds.alias("b"),
    )
    lens = F.filter(
        F.zip_with(
            F.concat(F.array(F.lit(0)), F.col("b")),
            F.concat(F.col("b"), F.array(F.col("n_toks").cast("int"))),
            lambda s, e: e - s,
        ),
        lambda x: x > 0,
    )
    per = st.select(
        "source",
        "n_toks",
        F.size(lens).cast("long").alias("n_chunks"),
        F.array_max(lens).cast("long").alias("max_chunk"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("n_chunks").alias("n_chunks"),
            F.max("max_chunk").alias("max_chunk"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chunks",
            F.expr(
                "CAST(n_tokens * 1000 div n_chunks AS BIGINT)"
            ).alias("mean_chunk_milli"),
            "max_chunk",
        )
    )


ORACLE_CHI2_KEYWORDS = f"""
    WITH t AS (SELECT doc_id, source,
            list_distinct({_TOKS}) AS toks FROM documents),
    sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a
        FROM (SELECT doc_id, source, unnest(toks) AS w FROM t)
        GROUP BY 1, 2),
    srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        FROM documents GROUP BY 1),
    dfw AS (SELECT w, CAST(SUM(a) AS BIGINT) AS df_w FROM sw GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    j AS (SELECT sw.source, sw.w, a, n_s - a AS b, df_w - a AS c,
            n_docs - n_s - df_w + a AS d, n_docs
        FROM sw JOIN srcs ON sw.source = srcs.source
        JOIN dfw ON sw.w = dfw.w CROSS JOIN tot),
    scored AS (SELECT source, w, a,
            (FLOOR((
                CAST(CAST(CAST(n_docs AS HUGEINT)
                    * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
                    * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
                    AS VARCHAR) AS DOUBLE)
                / (CAST(CAST(CAST(a AS HUGEINT) + b AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(CAST(c AS HUGEINT) + d AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(CAST(a AS HUGEINT) + c AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(CAST(b AS HUGEINT) + d AS VARCHAR) AS DOUBLE))
            ) * 1000.0 + 0.5) / 1000.0) AS chi2
        FROM j),
    rk AS (SELECT source, w, a, chi2,
            ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY chi2 DESC, w) AS rnk
        FROM scored)
    SELECT source, CAST(rnk AS BIGINT) AS rnk, w, a, chi2
    FROM rk WHERE rnk <= 3 ORDER BY source, rnk
"""


@query(ORACLE_CHI2_KEYWORDS)
def q_chi2_keywords_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinguishing keywords per source by chi-square on document
    frequency: for each (source, word) 2x2 table (a = docs in source
    with the word, b/c/d the complements), chi2 = N(ad-bc)^2 /
    ((a+b)(c+d)(a+c)(b+d)) — the classic feature-selection statistic
    (tfidf_top_terms ranks within a doc; THIS ranks what separates a
    source from the rest of the corpus).  The five factors are exact
    DECIMAL(38,0) integers bridged to double through VARCHAR (the
    dispersion idiom — N(ad-bc)^2 can pass 1e38, so the DIVISION is
    the only double op), det_round(3); top 3 words per source.

    Scale shape: doc-distinct (source, word) agg, word-df and
    source-size broadcasts, a per-source rank window at vocab
    cardinality (partition = source), 3 rows out per source."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    sw = (
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    TX.tokens(TX.normalize_text(F.col("text")))
                )
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    srcs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    dfw = sw.groupBy("w").agg(F.sum("a").alias("df_w"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    j = (
        sw.join(F.broadcast(srcs), "source")
        .join(dfw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "a",
            (F.col("n_s") - F.col("a")).alias("b"),
            (F.col("df_w") - F.col("a")).alias("c"),
            (
                F.col("n_docs") - F.col("n_s") - F.col("df_w")
                + F.col("a")
            ).alias("d"),
            "n_docs",
        )
    )
    dec = "DECIMAL(38,0)"
    bridge = (
        lambda e: f"CAST(CAST(CAST({e} AS {dec}) AS STRING) AS DOUBLE)"
    )  # noqa: E731
    num = bridge(
        f"CAST(n_docs AS {dec})"
        f" * (CAST(a AS {dec}) * d - CAST(b AS {dec}) * c)"
        f" * (CAST(a AS {dec}) * d - CAST(b AS {dec}) * c)"
    )
    den = (
        f"({bridge('CAST(a AS ' + dec + ') + b')}"
        f" * {bridge('CAST(c AS ' + dec + ') + d')}"
        f" * {bridge('CAST(a AS ' + dec + ') + c')}"
        f" * {bridge('CAST(b AS ' + dec + ') + d')})"
    )
    scored = j.select(
        "source",
        "w",
        "a",
        # FLOOR returns BIGINT in Spark and "1000.0" parses as DECIMAL
        # in SQL text — cast back to DOUBLE so the emitted type matches
        # DuckDB's double FLOOR
        F.expr(
            f"(CAST(FLOOR(({num} / {den}) * 1000.0 + 0.5) AS DOUBLE)"
            " / CAST(1000.0 AS DOUBLE))"
        ).alias("chi2"),
    )
    wn = Window.partitionBy("source").orderBy(
        F.desc("chi2"), "w"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wn))
        .filter(F.col("rnk") <= 3)
        .select("source", F.col("rnk").cast("bigint").alias("rnk"), "w", "a", "chi2")
        .orderBy("source", "rnk")
    )


ORACLE_LM_HOLDOUT = f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    trb AS (SELECT p.w1 AS w1, p.w2 AS w2,
            CAST(COUNT(*) AS BIGINT) AS c12
        FROM (SELECT unnest(list_transform(range(len(toks) - 1), i ->
                struct_pack(w1 := toks[i + 1], w2 := toks[i + 2]))) AS p
              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)
        GROUP BY 1, 2),
    teb AS (SELECT p.w1 AS w1, p.w2 AS w2,
            CAST(COUNT(*) AS BIGINT) AS mult
        FROM (SELECT unnest(list_transform(range(len(toks) - 1), i ->
                struct_pack(w1 := toks[i + 1], w2 := toks[i + 2]))) AS p
              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 2)
        GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
            CAST(COUNT(*) AS BIGINT) AS n1 FROM trb GROUP BY 1),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nc
        FROM trb GROUP BY 1),
    consts AS (SELECT
        (SELECT CAST(COUNT(DISTINCT w) AS BIGINT)
         FROM (SELECT unnest(toks) AS w FROM d WHERE doc_id % 2 = 0))
            AS v,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM trb) AS t),
    j AS (SELECT mult,
            COALESCE(trb.c12, 0) AS c12, COALESCE(c1, 0) AS c1,
            COALESCE(n1, 0) AS n1, COALESCE(nc, 0) AS nc, v, t
        FROM teb LEFT JOIN trb
            ON teb.w1 = trb.w1 AND teb.w2 = trb.w2
        LEFT JOIN lft ON teb.w1 = lft.w1
        LEFT JOIN rgt ON teb.w2 = rgt.w2
        CROSS JOIN consts),
    scored AS (SELECT mult,
            CASE WHEN c12 = 0 THEN 1 ELSE 0 END AS unseen,
            CAST(FLOOR(-LN(
                CAST(CAST(CAST(c12 AS HUGEINT) + 1 AS VARCHAR) AS DOUBLE)
                / CAST(CAST(CAST(c1 AS HUGEINT) + v AS VARCHAR) AS DOUBLE))
                * 1000000000.0 + 0.5) AS BIGINT) AS ao_nano,
            CAST(FLOOR(-LN(
                CAST(CAST(CASE WHEN c1 > 0 THEN
                    GREATEST(CAST(4 AS HUGEINT) * c12 - 3,
                             CAST(0 AS HUGEINT)) * (t + v)
                    + CAST(3 AS HUGEINT) * n1 * (nc + 1)
                    ELSE CAST(nc AS HUGEINT) + 1 END AS VARCHAR)
                    AS DOUBLE)
                / CAST(CAST(CASE WHEN c1 > 0 THEN
                    CAST(4 AS HUGEINT) * c1 * (t + v)
                    ELSE CAST(t AS HUGEINT) + v END AS VARCHAR)
                    AS DOUBLE))
                * 1000000000.0 + 0.5) AS BIGINT) AS kn_nano
        FROM j),
    g AS (SELECT CAST(SUM(mult) AS BIGINT) AS n_events,
            CAST(SUM(unseen * mult) AS BIGINT) AS n_unseen,
            CAST(SUM(ao_nano * mult) AS BIGINT) AS s_ao,
            CAST(SUM(kn_nano * mult) AS BIGINT) AS s_kn
        FROM scored),
    u AS (SELECT 'add_one' AS model, n_events, n_unseen,
            s_ao // n_events AS xent_nano FROM g
        UNION ALL
        SELECT 'kneser_ney', n_events, n_unseen,
            s_kn // n_events FROM g)
    SELECT model, n_events, n_unseen, xent_nano,
        CAST(FLOOR(EXP(CAST(xent_nano AS DOUBLE) / 1000000000.0)
            * 1000000.0 + 0.5) AS BIGINT) AS ppl_micro
    FROM u ORDER BY model
"""


# ---------------------------------------------------------------- wave 7f
@query(ORACLE_LM_HOLDOUT)


def q_lm_holdout_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM bake-off: train bigram models on EVEN doc_ids,
    score the bigram events of ODD doc_ids, and report cross-entropy
    + perplexity for add-one vs interpolated Kneser-Ney — the eval
    that justifies kneser_ney_bigrams' extra machinery (KN should win
    on held-out text; if it doesn't, the corpus is telling you its
    bigrams don't repeat).  Every probability is an exact integer
    ratio — add-one: (c12+1)/(c1+V); KN seen-context:
    (max(4c12-3,0)(T+V) + 3 n1 (nc+1)) / (4 c1 (T+V)) with add-one-
    smoothed continuation (nc+1)/(T+V), which also serves unseen
    contexts — so both engines take ONE ln of the same bridged ratio
    per event class (the js_divergence lesson), half-up nano-
    quantized, integer-summed with test multiplicities.

    Scale shape: train aggs at bigram/vocab cardinality; test
    bigrams aggregated to distinct types with multiplicity BEFORE
    joining (events never fan out); three left equi-joins; constants
    ride a 1-row broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(TX.normalize_text(F.col("text")))
    m = F.size(F.col("toks")) - 1
    pairs_arr = F.when(
        m >= 1,
        F.zip_with(
            F.slice(F.col("toks"), 1, m),
            F.slice(F.col("toks"), 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )

    def bigrams_of(pred):
        return (
            docs.filter(pred)
            .select(toks.alias("toks"))
            .select(F.explode_outer(pairs_arr).alias("p"))
            .filter(F.col("p").isNotNull())
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    train = bigrams_of(F.col("doc_id") % 2 == 0).withColumnRenamed(
        "cnt", "c12"
    )
    test = bigrams_of(F.col("doc_id") % 2 == 1).withColumnRenamed(
        "cnt", "mult"
    )
    left = train.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1")
    )
    right = train.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    vocab = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(toks).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    types = train.agg(F.count(F.lit(1)).alias("t"))
    consts = vocab.crossJoin(types)
    j = (
        test.join(train, ["w1", "w2"], "left")
        .join(left, "w1", "left")
        .join(right, "w2", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "mult",
            F.coalesce(F.col("c12"), F.lit(0)).alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("n1"), F.lit(0)).alias("n1"),
            F.coalesce(F.col("nc"), F.lit(0)).alias("nc"),
            "v",
            "t",
        )
    )
    dec = "DECIMAL(38,0)"
    br = lambda e: f"CAST(CAST({e} AS STRING) AS DOUBLE)"  # noqa: E731
    # -ln p, half-up nano, weighted by test multiplicity
    ao_num = f"CAST(c12 AS {dec}) + 1"
    ao_den = f"CAST(c1 AS {dec}) + v"
    kn_num = (
        f"CASE WHEN c1 > 0 THEN"
        f" greatest(CAST(4 AS {dec}) * c12 - 3, CAST(0 AS {dec}))"
        f" * (t + v) + CAST(3 AS {dec}) * n1 * (nc + 1)"
        f" ELSE CAST(nc AS {dec}) + 1 END"
    )
    kn_den = (
        f"CASE WHEN c1 > 0 THEN CAST(4 AS {dec}) * c1 * (t + v)"
        f" ELSE CAST(t AS {dec}) + v END"
    )
    scored = j.select(
        "mult",
        (F.col("c12") == 0).cast("bigint").alias("unseen"),
        F.expr(
            f"CAST(FLOOR(-ln({br(ao_num)} / {br(ao_den)})"
            " * 1000000000.0 + 0.5) AS BIGINT)"
        ).alias("ao_nano"),
        F.expr(
            f"CAST(FLOOR(-ln({br(kn_num)} / {br(kn_den)})"
            " * 1000000000.0 + 0.5) AS BIGINT)"
        ).alias("kn_nano"),
    )
    g = scored.agg(
        F.sum("mult").alias("n_events"),
        F.sum(F.col("unseen") * F.col("mult")).alias("n_unseen"),
        F.sum(F.col("ao_nano") * F.col("mult")).alias("s_ao"),
        F.sum(F.col("kn_nano") * F.col("mult")).alias("s_kn"),
    )
    out = g.select(
        F.lit("add_one").alias("model"),
        "n_events",
        "n_unseen",
        F.expr("s_ao div n_events").alias("xent_nano"),
    ).unionByName(
        g.select(
            F.lit("kneser_ney").alias("model"),
            "n_events",
            "n_unseen",
            F.expr("s_kn div n_events").alias("xent_nano"),
        )
    )
    return out.select(
        "model",
        "n_events",
        "n_unseen",
        "xent_nano",
        F.expr(
            "CAST(FLOOR(exp(CAST(xent_nano AS DOUBLE) / 1000000000.0)"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("ppl_micro"),
    ).orderBy("model")


ORACLE_BRIER = """
    WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents),
    m AS (SELECT doc_id, y,
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    scored AS (SELECT y, CAST(
        (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END) +
        (CASE WHEN n_tok > 0
              AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
              THEN 1 ELSE 0 END) +
        (CASE WHEN n_chars = 0
              OR CAST(n_chars - n_nopunct AS DOUBLE) / n_chars <= 0.2
              THEN 1 ELSE 0 END) +
        (CASE WHEN n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
              AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
              THEN 1 ELSE 0 END) AS BIGINT) AS q
    FROM m),
    hist AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n_k,
            CAST(SUM(y) AS BIGINT) AS s_k
        FROM scored GROUP BY 1),
    tot AS (SELECT q, n_k, s_k,
            CAST(SUM(n_k) OVER () AS BIGINT) AS n,
            CAST(SUM(s_k) OVER () AS BIGINT) AS s
        FROM hist),
    terms AS (SELECT n, s,
            CAST(n_k AS HUGEINT) * q * q - 8 * (CAST(q AS HUGEINT) * s_k)
                + 16 * CAST(s_k AS HUGEINT) AS b16,
            (CAST(q AS HUGEINT) * n_k - 4 * CAST(s_k AS HUGEINT))
                * (CAST(q AS HUGEINT) * n_k - 4 * CAST(s_k AS HUGEINT))
                * 1000000 // (16 * CAST(n_k AS HUGEINT) * n) AS rel_k,
            ((CAST(s_k AS HUGEINT) * n - CAST(s AS HUGEINT) * n_k)
                * (CAST(s_k AS HUGEINT) * n - CAST(s AS HUGEINT) * n_k)
                // (CAST(n_k AS HUGEINT) * n)) * 1000000
                // (CAST(n AS HUGEINT) * n) AS res_k
        FROM tot)
    SELECT n AS n_docs, s AS n_pos,
        CAST(SUM(b16) * 1000000 // (16 * CAST(MAX(n) AS HUGEINT))
             AS BIGINT) AS brier_micro,
        CAST(SUM(rel_k) AS BIGINT) AS rel_micro,
        CAST(SUM(res_k) AS BIGINT) AS res_micro,
        CAST(CAST(MAX(s) AS HUGEINT) * (MAX(n) - MAX(s)) * 1000000
             // (CAST(MAX(n) AS HUGEINT) * MAX(n)) AS BIGINT)
            AS unc_micro
    FROM terms GROUP BY n, s
"""


# ---------------------------------------------------------------- wave 7i
@query(ORACLE_BRIER)


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the quality-score-
    predicts-English classifier (same setup as classifier_auc):
    Brier = Reliability - Resolution + Uncertainty, the diagnosis that
    says WHY a probabilistic score is bad — miscalibrated (REL), or
    just uninformative (low RES).  The score takes quarter values
    q/4, so 16*N*Brier is an exact integer; REL and RES quantize
    per-BIN to micro via exact integer division (positive terms, so
    both engines floor identically) before the bounded 5-row sum.

    Scale shape: one partial agg to the 5-row score histogram;
    everything else is 5-row arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    # quality_score returns k/4; q = 4*score is integer 0..4
    scored = docs.select(
        (TX.quality_score(F.col("text")) * 4).cast("bigint").alias("q"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )
    hist = scored.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("s_k")
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    dec = "DECIMAL(38,0)"
    tot = hist.select(
        "q",
        "n_k",
        "s_k",
        F.sum("n_k").over(wall).alias("n"),
        F.sum("s_k").over(wall).alias("s"),
    )
    terms = tot.select(
        "n",
        "s",
        F.expr(
            f"CAST(n_k AS {dec}) * q * q - 8 * (CAST(q AS {dec}) * s_k)"
            f" + 16 * CAST(s_k AS {dec})"
        ).alias("b16"),
        F.expr(
            f"(CAST(q AS {dec}) * n_k - 4 * CAST(s_k AS {dec}))"
            f" * (CAST(q AS {dec}) * n_k - 4 * CAST(s_k AS {dec}))"
            f" * 1000000 div (16 * CAST(n_k AS {dec}) * n)"
        ).alias("rel_k"),
        # two-step floor division: X^2 alone reaches 1e36 at 1e9 docs,
        # so *1e6 first would pass DECIMAL(38); divide by (n_k*N) before
        # scaling (same two-step on the oracle side — engines agree)
        F.expr(
            f"((CAST(s_k AS {dec}) * n - CAST(s AS {dec}) * n_k)"
            f" * (CAST(s_k AS {dec}) * n - CAST(s AS {dec}) * n_k)"
            f" div (CAST(n_k AS {dec}) * n)) * 1000000"
            f" div (CAST(n AS {dec}) * n)"
        ).alias("res_k"),
    )
    return terms.groupBy("n", "s").agg(
        F.expr(
            f"CAST(SUM(b16) * 1000000 div (16 * CAST(MAX(n) AS {dec}))"
            " AS BIGINT)"
        ).alias("brier_micro"),
        F.expr("CAST(SUM(rel_k) AS BIGINT)").alias("rel_micro"),
        F.expr("CAST(SUM(res_k) AS BIGINT)").alias("res_micro"),
    ).select(
        F.col("n").alias("n_docs"),
        F.col("s").alias("n_pos"),
        "brier_micro",
        "rel_micro",
        "res_micro",
        F.expr(
            f"CAST(CAST(s AS {dec}) * (n - s) * 1000000"
            f" div (CAST(n AS {dec}) * n) AS BIGINT)"
        ).alias("unc_micro"),
    )


def _dunning_oracle() -> str:
    def term(o, r, k):
        return (
            f"(CASE WHEN {o} > 0 THEN CAST({o} AS DOUBLE)"
            f" * (LN(CAST({o} AS DOUBLE)) + LN(CAST(nb AS DOUBLE))"
            f" - LN(CAST({r} AS DOUBLE)) - LN(CAST({k} AS DOUBLE)))"
            f" ELSE CAST(0.0 AS DOUBLE) END)"
        )

    g2 = (
        "2.0 * ("
        + term("cxy", "c1", "c2")
        + " + " + term("(c1 - cxy)", "c1", "(nb - c2)")
        + " + " + term("(c2 - cxy)", "(nb - c1)", "c2")
        + " + " + term("(nb - c1 - c2 + cxy)", "(nb - c1)", "(nb - c2)")
        + ")"
    )
    return f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    bt AS (SELECT toks FROM t WHERE len(toks) >= 2),
    big AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cxy FROM (
            SELECT unnest(list_transform(range(len(toks) - 1),
                i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg
            FROM bt) b
        GROUP BY bg),
    parts AS (SELECT bg, cxy,
            string_split(bg, ' ')[1] AS x,
            string_split(bg, ' ')[2] AS y
        FROM big),
    lm AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS c1
        FROM parts GROUP BY 1),
    rm AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS c2
        FROM parts GROUP BY 1),
    nn AS (SELECT CAST(SUM(cxy) AS BIGINT) AS nb FROM parts),
    cand AS (SELECT bg, cxy, c1, c2, nb
        FROM parts JOIN lm USING (x) JOIN rm USING (y) CROSS JOIN nn
        WHERE cxy >= 5)
    SELECT bg, cxy, c1, c2,
        {DET.det_round_sql(g2, 6)} AS llr_g2
    FROM cand ORDER BY llr_g2 DESC, bg LIMIT 20
"""


ORACLE_DUNNING = _dunning_oracle()


# ---------------------------------------------------------------- wave 7p
@query(ORACLE_DUNNING)


def q_dunning_llr_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocations by Dunning's log-likelihood ratio (G^2) — the
    published fix for PMI's rare-pair bias (pmi_bigrams ranks a
    2-occurrence oddity above 'new york'; G^2 weighs evidence mass, so
    frequent true collocations win).  Each bigram's 2x2 table uses
    PROPER slot marginals from the unfiltered bigram table (c1 = count
    as left word, c2 = as right word, N = all bigram events); each of
    the four O*ln(O N / (r k)) terms is log-space (the pmi overflow
    lesson — no integer product ever forms) and per-ROW (a fixed
    expression tree, not a cross-row float fold), det_round(6).
    Counts stay below 2^53 at any conceivable corpus so the int->
    double casts are exact.

    Scale shape: one bigram-cardinality aggregate; slot marginals are
    two rollups of it; candidates (cxy >= 5) join the marginals on the
    word; TakeOrdered(20)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        TX.tokens(TX.normalize_text(F.col("text"))).alias("toks")
    ).filter(F.size("toks") >= 2)
    big = (
        toks.select(
            F.explode(TX.ngram_strings(F.col("toks"), 2)).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    parts = big.select(
        "bg",
        "cxy",
        F.split(F.col("bg"), " ").getItem(0).alias("x"),
        F.split(F.col("bg"), " ").getItem(1).alias("y"),
    )
    lm = parts.groupBy("x").agg(F.sum("cxy").alias("c1"))
    rm = parts.groupBy("y").agg(F.sum("cxy").alias("c2"))
    nn = parts.agg(F.sum("cxy").alias("nb"))
    cand = (
        parts.filter(F.col("cxy") >= 5)
        .join(lm, "x")
        .join(rm, "y")
        .crossJoin(F.broadcast(nn))
    )

    def term(o, r, k):
        return (
            f"(CASE WHEN {o} > 0 THEN CAST({o} AS DOUBLE)"
            f" * (ln(CAST({o} AS DOUBLE)) + ln(CAST(nb AS DOUBLE))"
            f" - ln(CAST({r} AS DOUBLE)) - ln(CAST({k} AS DOUBLE)))"
            f" ELSE CAST(0.0 AS DOUBLE) END)"
        )

    g2 = (
        "2.0 * ("
        + term("cxy", "c1", "c2")
        + " + " + term("(c1 - cxy)", "c1", "(nb - c2)")
        + " + " + term("(c2 - cxy)", "(nb - c1)", "c2")
        + " + " + term("(nb - c1 - c2 + cxy)", "(nb - c1)", "(nb - c2)")
        + ")"
    )
    return (
        cand.select(
            "bg",
            "cxy",
            "c1",
            "c2",
            DET.det_round(F.expr(g2), 6).alias("llr_g2"),
        )
        .orderBy(F.desc("llr_g2"), "bg")
        .limit(20)
    )


ORACLE_MCNEMAR = """
    WITH t AS (SELECT lang, text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    scored AS (SELECT y,
        CASE WHEN (CASE WHEN n_tok >= 10 AND n_tok <= 100000
                        THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok > 0
                        AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
                        THEN 1 ELSE 0 END)
                + (CASE WHEN n_chars = 0 OR CAST(n_chars - n_nopunct
                        AS DOUBLE) / n_chars <= 0.2 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok > 0
                        AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
                        AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
                        THEN 1 ELSE 0 END) >= 3
             THEN 1 ELSE 0 END AS pa,
        CASE WHEN n_tok BETWEEN 50 AND 5000 THEN 1 ELSE 0 END AS pb
    FROM m),
    r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(CASE WHEN pa = y THEN 1 END) AS BIGINT) AS a_correct,
        CAST(COUNT(CASE WHEN pb = y THEN 1 END) AS BIGINT) AS b_correct,
        CAST(COUNT(CASE WHEN pa = y AND pb <> y THEN 1 END) AS BIGINT)
            AS b_disc,
        CAST(COUNT(CASE WHEN pa <> y AND pb = y THEN 1 END) AS BIGINT)
            AS c_disc
    FROM scored)
    SELECT n_docs,
        a_correct * 1000000 // n_docs AS a_acc_ppm,
        b_correct * 1000000 // n_docs AS b_acc_ppm,
        b_disc, c_disc,
        CASE WHEN b_disc + c_disc = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(GREATEST(ABS(b_disc - c_disc) - 1, 0)
                * GREATEST(ABS(b_disc - c_disc) - 1, 0) * 1000000
                // (b_disc + c_disc) AS BIGINT) END
            AS mcnemar_chi2_micro
    FROM r
"""


@query(ORACLE_MCNEMAR)
def q_mcnemar_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED classifier predictions — the correct
    way to ask 'is classifier A actually better than B on the same
    docs?' (comparing two accuracies ignores pairing; McNemar uses
    only the discordant cells).  A = the 4-flag quality score at
    threshold 3/4 predicting English (the classifier_auc / brier
    setup); B = a length-only baseline (50..5000 ws tokens).  b = A
    right & B wrong, c = B right & A wrong; the Edwards-corrected
    statistic (max(|b-c|-1,0))^2 / (b+c) lands in exact micro (all
    integers; single floor division).

    Scale shape: ONE doc scan, one 1-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        (
            (TX.quality_score(F.col("text")) * 4).cast("bigint") >= 3
        ).cast("int").alias("pa"),
        TX.token_count(F.col("text")).between(50, 5000).cast("int").alias(
            "pb"
        ),
    )
    r = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("pa") == F.col("y")).alias("a_correct"),
        F.count_if(F.col("pb") == F.col("y")).alias("b_correct"),
        F.count_if(
            (F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y"))
        ).alias("b_disc"),
        F.count_if(
            (F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y"))
        ).alias("c_disc"),
    )
    return r.select(
        "n_docs",
        F.expr("a_correct * 1000000 div n_docs").alias("a_acc_ppm"),
        F.expr("b_correct * 1000000 div n_docs").alias("b_acc_ppm"),
        "b_disc",
        "c_disc",
        F.expr(
            "CASE WHEN b_disc + c_disc = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(greatest(abs(b_disc - c_disc) - 1, 0)"
            " * greatest(abs(b_disc - c_disc) - 1, 0) * 1000000"
            " div (b_disc + c_disc) AS BIGINT) END"
        ).alias("mcnemar_chi2_micro"),
    )


ORACLE_GOOD_TURING = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(toks) AS w FROM t) u GROUP BY w),
    fof AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_c
        FROM uni GROUP BY c),
    led AS (SELECT c, n_c,
            LEAD(n_c) OVER (ORDER BY c) AS n_next,
            LEAD(c) OVER (ORDER BY c) AS c_next
        FROM fof)
    SELECT c, n_c,
        CAST(CASE WHEN c_next = c + 1 THEN n_next ELSE 0 END AS BIGINT)
            AS n_c_plus1,
        CAST((c + 1) * (CASE WHEN c_next = c + 1 THEN n_next
            ELSE 0 END) * 1000 // n_c AS BIGINT) AS gt_count_milli
    FROM led WHERE c BETWEEN 1 AND 10 ORDER BY c
"""


@query(ORACLE_GOOD_TURING)
def q_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count re-estimation over the unigram vocabulary:
    the frequency-of-frequencies table N_c and the Turing-adjusted
    count c* = (c+1) N_{c+1} / N_c for c = 1..10 — the smoothing that
    says how much probability mass the UNSEEN words deserve (N_1/N,
    the leave-one-out argument Kneser-Ney discounts approximate; this
    is the estimator they approximate).  Exact milli integers — one
    floor division per row; the N_{c+1} lookup is a lead window over
    the count-of-counts table.

    Scale shape: token explode -> vocab agg -> count-of-counts agg
    (cardinality = distinct abundance values, O(sqrt tokens)); lead
    window over that bounded table; 10 rows out."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.select(
            F.explode(
                TX.tokens(TX.normalize_text(F.col("text")))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = uni.groupBy("c").agg(F.count(F.lit(1)).alias("n_c"))
    w = Window.orderBy("c")
    led = fof.select(
        "c",
        "n_c",
        F.lead("n_c").over(w).alias("n_next"),
        F.lead("c").over(w).alias("c_next"),
    )
    return (
        led.filter((F.col("c") >= 1) & (F.col("c") <= 10))
        .select(
            "c",
            "n_c",
            # N_{c+1} is zero unless the NEXT populated abundance is
            # exactly c+1 (the fof table is sparse)
            F.expr(
                "CASE WHEN c_next = c + 1 THEN n_next"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("n_c_plus1"),
            F.expr(
                "CAST((c + 1) * (CASE WHEN c_next = c + 1 THEN n_next"
                " ELSE CAST(0 AS BIGINT) END) * 1000 div n_c AS BIGINT)"
            ).alias("gt_count_milli"),
        )
        .orderBy("c")
    )


ORACLE_BLAND_ALTMAN = """
    WITH t AS (SELECT
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> x <> '')) AS BIGINT)
        - CAST(list_sum(list_transform(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> ''),
            w -> CASE WHEN length(w) <= 4 THEN 1
                 ELSE CAST(ceil(length(w) / 4.0) AS BIGINT) END))
            AS BIGINT) AS d
    FROM documents),
    hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t GROUP BY 1),
    m AS (SELECT d, cnt,
            CAST(SUM(cnt) OVER () AS BIGINT) AS n,
            CAST(SUM(CAST(cnt AS HUGEINT) * d) OVER () AS HUGEINT)
                AS s,
            CAST(SUM(CAST(cnt AS HUGEINT) * d * d) OVER () AS HUGEINT)
                AS q
        FROM hist),
    sc AS (SELECT d, cnt, n,
            CAST(FLOOR((CAST(CAST(s AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
                AS bias_milli,
            CAST(FLOOR((CAST(CAST(s AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)
                - 1.96 * SQRT((CAST(CAST(q AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(s AS VARCHAR) AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)))
                * 1000.0 + 0.5) AS BIGINT) AS loa_lo_milli,
            CAST(FLOOR((CAST(CAST(s AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)
                + 1.96 * SQRT((CAST(CAST(q AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(s AS VARCHAR) AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)))
                * 1000.0 + 0.5) AS BIGINT) AS loa_hi_milli
        FROM m)
    SELECT n AS n_docs, bias_milli, loa_lo_milli, loa_hi_milli,
        CAST(SUM(CASE WHEN d * 1000 >= loa_lo_milli
            AND d * 1000 <= loa_hi_milli THEN cnt ELSE 0 END)
            AS BIGINT) AS n_within,
        CAST(SUM(CASE WHEN d * 1000 >= loa_lo_milli
            AND d * 1000 <= loa_hi_milli THEN cnt ELSE 0 END)
            * 1000000 // n AS BIGINT) AS within_ppm
    FROM sc GROUP BY n, bias_milli, loa_lo_milli, loa_hi_milli
"""


@query(ORACLE_BLAND_ALTMAN)
def q_bland_altman_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement between two measurement methods —
    whitespace tokens vs the BPE-ish count (token_counts emits both;
    THIS says whether they agree well enough to interchange, the
    method-comparison question correlation famously cannot answer):
    mean difference (bias), 1.96-SD limits of agreement, and the
    fraction of documents inside them.  The per-doc difference is a
    SMALL INTEGER, so the whole analysis runs on its bounded value
    histogram: moments AND the within-limits count come from ONE
    corpus pass — the limits (det-floored to exact milli) are compared
    against d*1000 as integer-vs-integer, no float per row.

    Scale shape: one corpus agg to difference-value cardinality
    (bounded by the token-count range), windows/arithmetic on that
    bounded table, one row out."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        (
            TX.token_count(F.col("text")).cast("long")
            - TX.bpe_ish_token_count(F.col("text")).cast("long")
        ).alias("d")
    )
    hist = d.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    dec = "DECIMAL(38,0)"
    wall = Window.partitionBy()
    m = hist.select(
        "d",
        "cnt",
        F.sum("cnt").over(wall).alias("n"),
        F.sum(F.expr(f"CAST(cnt AS {dec}) * d")).over(wall).alias("s"),
        F.sum(
            F.expr(f"CAST(cnt AS {dec}) * d * d")
        ).over(wall).alias("q"),
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    mean = f"({br('s')} / {dn})"
    sd = (
        f"SQRT(({br('q')} - {br('s')} * {br('s')} / {dn})"
        f" / ({dn} - 1.0))"
    )
    lo = f"CAST(FLOOR(({mean} - 1.96 * {sd}) * 1000.0 + 0.5) AS BIGINT)"
    hi = f"CAST(FLOOR(({mean} + 1.96 * {sd}) * 1000.0 + 0.5) AS BIGINT)"
    scored = m.select(
        "d",
        "cnt",
        "n",
        F.expr(lo).alias("loa_lo_milli"),
        F.expr(hi).alias("loa_hi_milli"),
        F.expr(
            f"CAST(FLOOR({mean} * 1000.0 + 0.5) AS BIGINT)"
        ).alias("bias_milli"),
    )
    return scored.groupBy(
        "n", "bias_milli", "loa_lo_milli", "loa_hi_milli"
    ).agg(
        F.sum(
            F.when(
                (F.col("d") * 1000 >= F.col("loa_lo_milli"))
                & (F.col("d") * 1000 <= F.col("loa_hi_milli")),
                F.col("cnt"),
            ).otherwise(F.lit(0))
        ).alias("n_within")
    ).select(
        F.col("n").alias("n_docs"),
        "bias_milli",
        "loa_lo_milli",
        "loa_hi_milli",
        "n_within",
        F.expr("CAST(n_within * 1000000 div n AS BIGINT)").alias(
            "within_ppm"
        ),
    )


ORACLE_YOUDEN = """
    WITH t AS (SELECT lang, text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    scored AS (SELECT y, CAST(
        (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END) +
        (CASE WHEN n_tok > 0
              AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
              THEN 1 ELSE 0 END) +
        (CASE WHEN n_chars = 0
              OR CAST(n_chars - n_nopunct AS DOUBLE) / n_chars <= 0.2
              THEN 1 ELSE 0 END) +
        (CASE WHEN n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
              AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
              THEN 1 ELSE 0 END) AS BIGINT) AS q
    FROM m),
    hist AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n_k,
            CAST(SUM(y) AS BIGINT) AS s_k
        FROM scored GROUP BY 1),
    suf AS (SELECT q AS threshold,
            CAST(SUM(s_k) OVER (ORDER BY q DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
            CAST(SUM(n_k) OVER (ORDER BY q DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)
              - SUM(s_k) OVER (ORDER BY q DESC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
            CAST(SUM(s_k) OVER () AS BIGINT) AS pos,
            CAST(SUM(n_k) OVER () - SUM(s_k) OVER () AS BIGINT) AS neg
        FROM hist),
    j AS (SELECT threshold, tp, fp,
            tp * 1000000 // pos AS tpr_ppm,
            fp * 1000000 // neg AS fpr_ppm,
            tp * 1000000 // pos - fp * 1000000 // neg AS youden_j_ppm
        FROM suf)
    SELECT threshold, tp, fp, tpr_ppm, fpr_ppm, youden_j_ppm,
        CAST(ROW_NUMBER() OVER (ORDER BY youden_j_ppm DESC,
            threshold DESC) AS BIGINT) AS rank
    FROM j ORDER BY threshold
"""


@query(ORACLE_YOUDEN)
def q_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for the quality->English classifier:
    per candidate threshold t (predict positive when the 0..4 flag
    score >= t), the exact confusion counts, TPR/FPR in ppm, and
    Youden's J = TPR - FPR — the threshold a deployment actually has
    to pick, which classifier_auc's ranking number deliberately
    abstracts away.  All rows come from the 5-bin score histogram via
    suffix sums — one corpus pass, 5 candidate rows out, argmax by J.

    Scale shape: one agg to the 5-row score histogram; suffix-sum
    windows over 5 rows."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        (TX.quality_score(F.col("text")) * 4).cast("bigint").alias("q"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )
    hist = scored.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("s_k")
    )
    wall = Window.partitionBy()
    wsuf = Window.orderBy(F.desc("q")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = hist.select(
        F.col("q").alias("threshold"),
        F.sum("s_k").over(wsuf).alias("tp"),
        (F.sum("n_k").over(wsuf) - F.sum("s_k").over(wsuf)).alias("fp"),
        F.sum("s_k").over(wall).alias("pos"),
        (F.sum("n_k").over(wall) - F.sum("s_k").over(wall)).alias("neg"),
    )
    j = t.select(
        "threshold",
        "tp",
        "fp",
        F.expr("tp * 1000000 div pos").alias("tpr_ppm"),
        F.expr("fp * 1000000 div neg").alias("fpr_ppm"),
        F.expr(
            "tp * 1000000 div pos - fp * 1000000 div neg"
        ).alias("youden_j_ppm"),
    )
    w = Window.orderBy(F.desc("youden_j_ppm"), F.desc("threshold"))
    return j.select(
        "threshold",
        "tp",
        "fp",
        "tpr_ppm",
        "fpr_ppm",
        "youden_j_ppm",
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("threshold")


ORACLE_ELIAS_FANO = f"""
    WITH td AS (SELECT DISTINCT doc_id, w AS term
        FROM (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM td GROUP BY 1),
    u AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS u FROM documents),
    scored AS (SELECT term, df, u,
            CASE WHEN (u + df - 1) // df - 1 = 0 THEN 0
                 ELSE length(bin((u + df - 1) // df - 1)) END
                AS low_bits
        FROM dfreq CROSS JOIN u)
    SELECT term, df,
        CAST(df * (2 + low_bits) AS BIGINT) AS ef_bits,
        CAST(df * 64 AS BIGINT) AS raw_bits,
        u AS bitmap_bits,
        CAST(df * (2 + low_bits) * 1000000 // (df * 64) AS BIGINT)
            AS ef_vs_raw_ppm
    FROM scored ORDER BY df DESC, term LIMIT 20
"""


# ---------------------------------------------------------------- wave 7y
@query(ORACLE_ELIAS_FANO)


def q_elias_fano_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-compression planner for posting lists: per high-df term,
    the EXACT Elias-Fano storage bound n*(2 + ceil(log2(U/n))) bits
    against the raw 64-bit and bitmap (U bits) encodings — the math
    that decides an inverted index's physical format (posting_lists
    builds the lists; this prices them).  ceil(log2(U/n)) uses the
    shannon_code_lengths integer bit-length idiom (length(bin(
    ceil(U/n) - 1))) — no float log anywhere; compression ratio in
    exact ppm.  Top 20 terms by document frequency.

    Scale shape: one (term, doc) distinct aggregate, a term-
    cardinality df rollup, a 1-row corpus max broadcast; bit math is
    per-row integer expressions; TakeOrdered(20)."""
    docs = _t(spark, sf_dir, "documents")
    td = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                TX.tokens(TX.normalize_text(F.col("text")))
            )
        ).alias("term"),
    )
    dfreq = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    u = docs.agg(F.max("doc_id").cast("long").alias("u"))
    scored = dfreq.crossJoin(F.broadcast(u)).select(
        "term",
        "df",
        "u",
        F.expr(
            "CASE WHEN (u + df - 1) div df - 1 = 0 THEN 0"
            " ELSE length(bin((u + df - 1) div df - 1)) END"
        ).alias("low_bits"),
    )
    return (
        scored.select(
            "term",
            "df",
            F.expr("df * (2 + low_bits)").alias("ef_bits"),
            F.expr("df * 64").alias("raw_bits"),
            F.col("u").alias("bitmap_bits"),
            F.expr(
                "CAST(df * (2 + low_bits) * 1000000 div (df * 64)"
                " AS BIGINT)"
            ).alias("ef_vs_raw_ppm"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


ORACLE_FLEISS = """
    WITH t AS (SELECT text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    votes AS (SELECT
        (CASE WHEN (CASE WHEN n_tok >= 10 AND n_tok <= 100000
                    THEN 1 ELSE 0 END)
            + (CASE WHEN n_tok > 0
                    AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
                    THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars = 0 OR CAST(n_chars - n_nopunct
                    AS DOUBLE) / n_chars <= 0.2 THEN 1 ELSE 0 END)
            + (CASE WHEN n_tok > 0
                    AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
                    AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
                    THEN 1 ELSE 0 END) >= 3 THEN 1 ELSE 0 END)
        + (CASE WHEN n_tok BETWEEN 50 AND 5000 THEN 1 ELSE 0 END)
        + (CASE WHEN n_tok > 0
                AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
                THEN 1 ELSE 0 END) AS r
    FROM m),
    hist AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM votes GROUP BY 1),
    g AS (SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
            CAST(SUM(CAST(cnt AS HUGEINT) * r) AS HUGEINT) AS votes,
            CAST(SUM(CAST(cnt AS HUGEINT)
                * (r * (r - 1) + (3 - r) * (2 - r))) AS HUGEINT)
                AS agree6
        FROM hist)
    SELECT CAST(n AS BIGINT) AS n_docs,
        CAST(votes AS BIGINT) AS pos_votes,
        CAST(agree6 * 1000000 // (6 * n) AS BIGINT) AS p_bar_micro,
        CASE WHEN (54 * n * n * n
              - 6 * n * (votes * votes + (3 * n - votes)
                * (3 * n - votes))) = 0 THEN CAST(0 AS BIGINT)
        ELSE CAST((CASE WHEN (agree6 * 9 * n * n
              - 6 * n * (votes * votes + (3 * n - votes)
                * (3 * n - votes))) < 0 THEN -1 ELSE 1 END)
             * (ABS(agree6 * 9 * n * n
              - 6 * n * (votes * votes + (3 * n - votes)
                * (3 * n - votes))) * 1000000
             // (54 * n * n * n
              - 6 * n * (votes * votes + (3 * n - votes)
                * (3 * n - votes)))) AS BIGINT) END
            AS fleiss_kappa_micro
    FROM g
"""


@query(ORACLE_FLEISS)
def q_fleiss_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across THREE deterministic raters (the 4-flag
    quality classifier at >= 3, the 50..5000-token length gate, the
    1% stopword-ratio gate), each labeling every document
    positive/negative — the multi-rater generalization Cohen's kappa
    (classifier_kappa) can't express.  With 3 raters and 2 categories
    the per-doc agreement is a pure function of r = number of positive
    votes (P_i = (r(r-1) + (3-r)(2-r)) / 6), so the WHOLE statistic
    reduces to the 4-bin histogram of r: kappa = (P_bar - P_e) /
    (1 - P_e) computed as one exact rational in DECIMAL, emitted in
    micro.

    Scale shape: one corpus agg to the 4-row vote histogram; exact
    arithmetic on 4 rows."""
    docs = _t(spark, sf_dir, "documents")
    r = docs.select(
        (
            ((TX.quality_score(F.col("text")) * 4).cast("bigint") >= 3)
            .cast("long")
            + TX.token_count(F.col("text")).between(50, 5000).cast(
                "long"
            )
            + (
                TX.stopword_ratio(F.col("text")) >= F.lit(0.01)
            ).cast("long")
        ).alias("r")
    )
    hist = r.groupBy("r").agg(F.count(F.lit(1)).alias("cnt"))
    dec = "DECIMAL(38,0)"
    g = hist.agg(
        F.sum("cnt").alias("n"),
        F.expr(f"SUM(CAST(cnt AS {dec}) * r)").alias("votes"),
        F.expr(
            f"SUM(CAST(cnt AS {dec})"
            " * (r * (r - 1) + (3 - r) * (2 - r)))"
        ).alias("agree6"),
    )
    # P_bar = agree6 / (6n); P_e = (v^2 + (3n-v)^2) / (3n)^2
    # kappa = (P_bar - P_e) / (1 - P_e)
    #       = (agree6 * 3n^2 * 1.5 - ...) — clear denominators exactly:
    # kappa = (agree6*(3n)^2 - 6n*(v^2+(3n-v)^2))
    #       / (6n*(3n)^2 - 6n*(v^2+(3n-v)^2))
    num = (
        f"(agree6 * CAST(9 AS {dec}) * n * n"
        f" - CAST(6 AS {dec}) * n * (votes * votes"
        f" + (CAST(3 AS {dec}) * n - votes)"
        f" * (CAST(3 AS {dec}) * n - votes)))"
    )
    den = (
        f"(CAST(54 AS {dec}) * n * n * n"
        f" - CAST(6 AS {dec}) * n * (votes * votes"
        f" + (CAST(3 AS {dec}) * n - votes)"
        f" * (CAST(3 AS {dec}) * n - votes)))"
    )
    return g.select(
        F.expr("CAST(n AS BIGINT)").alias("n_docs"),
        F.expr("CAST(votes AS BIGINT)").alias("pos_votes"),
        F.expr(
            "CAST(agree6 * 1000000 div (CAST(6 AS DECIMAL(38,0)) * n)"
            " AS BIGINT)"
        ).alias("p_bar_micro"),
        # sign-safe division (ORACLE_TRIMMED idiom): Spark `div`
        # truncates toward zero, DuckDB `//` floors — run the division
        # on |num| and reapply the sign so a negative kappa (observed
        # agreement below chance) cannot diverge between engines;
        # den = 0 (P_e = 1, all raters unanimous corpus-wide) yields 0
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
            f" * (abs({num}) * 1000000 div {den}) AS BIGINT) END"
        ).alias("fleiss_kappa_micro"),
    )


ORACLE_HOSMER = """
    WITH t AS (SELECT lang, text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    scored AS (SELECT y, CAST(
        (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END) +
        (CASE WHEN n_tok > 0
              AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
              THEN 1 ELSE 0 END) +
        (CASE WHEN n_chars = 0
              OR CAST(n_chars - n_nopunct AS DOUBLE) / n_chars <= 0.2
              THEN 1 ELSE 0 END) +
        (CASE WHEN n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
              AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
              THEN 1 ELSE 0 END) AS BIGINT) AS q
    FROM m),
    hist AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n_k,
            CAST(SUM(y) AS BIGINT) AS s_k
        FROM scored GROUP BY 1),
    terms AS (SELECT q, n_k, s_k,
            CAST((CAST(4 AS HUGEINT) * s_k - CAST(q AS HUGEINT) * n_k)
                * (CAST(4 AS HUGEINT) * s_k - CAST(q AS HUGEINT) * n_k)
                * 1000000 // (CAST(n_k AS HUGEINT) * q * (4 - q))
                AS BIGINT) AS term_micro
        FROM hist WHERE q BETWEEN 1 AND 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        CAST(SUM(n_k) AS BIGINT) AS n_docs_tested,
        CAST(SUM(term_micro) AS BIGINT) AS hl_chi2_micro
    FROM terms
"""


# ---------------------------------------------------------------- wave 8e
@query(ORACLE_HOSMER)


def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the quality-score-as-
    probability classifier: treating score k/4 as the predicted
    English probability, per interior bin (k = 1..3; the 0 and 1
    endpoint bins have zero binomial variance and are excluded, as HL
    requires) the statistic sums (observed - expected)^2 / (n p (1-p))
    — calibration_curve SHOWS the miscalibration, this TESTS it.
    Exactly integer: with p = k/4, the bin term is
    (4 s_k - k n_k)^2 * 1e6 div (n_k k (4-k)), summed over 3 bins —
    one micro quantization per bin, nothing else.

    Scale shape: one corpus agg to the 5-row score histogram; 3-row
    arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        (TX.quality_score(F.col("text")) * 4).cast("bigint").alias("q"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )
    hist = scored.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("s_k")
    )
    dec = "DECIMAL(38,0)"
    terms = hist.filter((F.col("q") >= 1) & (F.col("q") <= 3)).select(
        "q",
        "n_k",
        "s_k",
        F.expr(
            f"CAST((CAST(4 AS {dec}) * s_k - CAST(q AS {dec}) * n_k)"
            f" * (CAST(4 AS {dec}) * s_k - CAST(q AS {dec}) * n_k)"
            f" * 1000000 div (CAST(n_k AS {dec}) * q * (4 - q))"
            " AS BIGINT)"
        ).alias("term_micro"),
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_k").alias("n_docs_tested"),
        F.sum("term_micro").alias("hl_chi2_micro"),
    )


# ---------------------------------------------------------------- wave 8f


def _quality_flags(docs: DataFrame) -> DataFrame:
    """The 4 quality-score component flags as separate integer columns
    (same definitions the score sums — see ORACLE_QUALITY)."""
    n_tok = TX.token_count(F.col("text"))
    return docs.select(
        n_tok.between(10, 100000).cast("long").alias("f1"),
        (
            (n_tok > 0)
            & (TX.stopword_ratio(F.col("text")) >= F.lit(0.01))
        ).cast("long").alias("f2"),
        (
            (F.length("text") == 0)
            | (TX.punct_ratio(F.col("text")) <= F.lit(0.2))
        ).cast("long").alias("f3"),
        (
            (n_tok > 0)
            & TX.avg_word_len(F.col("text")).between(2, 12)
        ).cast("long").alias("f4"),
    )


ORACLE_CRONBACH = """
    WITH t AS (SELECT text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    fl AS (SELECT
        CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END
            AS f1,
        CASE WHEN n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
            THEN 1 ELSE 0 END AS f2,
        CASE WHEN n_chars = 0 OR CAST(n_chars - n_nopunct AS DOUBLE)
            / n_chars <= 0.2 THEN 1 ELSE 0 END AS f3,
        CASE WHEN n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
            AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
            THEN 1 ELSE 0 END AS f4
    FROM m),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(f1) AS BIGINT) AS s1,
            CAST(SUM(f2) AS BIGINT) AS s2,
            CAST(SUM(f3) AS BIGINT) AS s3,
            CAST(SUM(f4) AS BIGINT) AS s4,
            CAST(SUM(f1 + f2 + f3 + f4) AS BIGINT) AS st,
            CAST(SUM(CAST(f1 + f2 + f3 + f4 AS HUGEINT)
                * (f1 + f2 + f3 + f4)) AS HUGEINT) AS qt
        FROM fl)
    SELECT n AS n_docs,
        CAST(((CAST(n AS HUGEINT) * s1 - CAST(s1 AS HUGEINT) * s1)
            + (CAST(n AS HUGEINT) * s2 - CAST(s2 AS HUGEINT) * s2)
            + (CAST(n AS HUGEINT) * s3 - CAST(s3 AS HUGEINT) * s3)
            + (CAST(n AS HUGEINT) * s4 - CAST(s4 AS HUGEINT) * s4))
            * 1000000
            // (CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st)
            AS BIGINT) AS item_var_share_ppm,
        CASE WHEN (CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st)
                = 0 THEN CAST(0 AS BIGINT)
        ELSE CAST((CASE WHEN ((CAST(n AS HUGEINT) * qt
                - CAST(st AS HUGEINT) * st)
            - ((CAST(n AS HUGEINT) * s1 - CAST(s1 AS HUGEINT) * s1)
            + (CAST(n AS HUGEINT) * s2 - CAST(s2 AS HUGEINT) * s2)
            + (CAST(n AS HUGEINT) * s3 - CAST(s3 AS HUGEINT) * s3)
            + (CAST(n AS HUGEINT) * s4 - CAST(s4 AS HUGEINT) * s4)))
            < 0 THEN -1 ELSE 1 END)
            * (ABS(CAST(4 AS HUGEINT)
                * ((CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st)
            - ((CAST(n AS HUGEINT) * s1 - CAST(s1 AS HUGEINT) * s1)
            + (CAST(n AS HUGEINT) * s2 - CAST(s2 AS HUGEINT) * s2)
            + (CAST(n AS HUGEINT) * s3 - CAST(s3 AS HUGEINT) * s3)
            + (CAST(n AS HUGEINT) * s4 - CAST(s4 AS HUGEINT) * s4))))
            * 1000000
            // (CAST(3 AS HUGEINT)
               * (CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st)))
            AS BIGINT) END AS cronbach_alpha_micro
    FROM g
"""


@query(ORACLE_CRONBACH)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha for the 4-item quality scale: do the four
    flags measure ONE latent 'document quality', or four unrelated
    things?  alpha = (k/(k-1)) (1 - sum item variances / total-score
    variance) — the reliability number that decides whether summing
    the flags into quality_score was statistically legitimate.  With
    binary items every variance is exact: n*s_i - s_i^2 over n^2, and
    the common n^2 cancels, so alpha is ONE sign-safe rational in
    DECIMAL(38,0), emitted in exact micro.

    Scale shape: one corpus scan aggregating 4 item sums + the total-
    score second moment; 1-row arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    f = _quality_flags(docs).withColumn(
        "t", F.expr("f1 + f2 + f3 + f4")
    )
    dec = "DECIMAL(38,0)"
    g = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f1").alias("s1"),
        F.sum("f2").alias("s2"),
        F.sum("f3").alias("s3"),
        F.sum("f4").alias("s4"),
        F.sum("t").alias("st"),
        F.expr(f"SUM(CAST(t AS {dec}) * t)").alias("qt"),
    )
    items = (
        f"((CAST(n AS {dec}) * s1 - CAST(s1 AS {dec}) * s1)"
        f" + (CAST(n AS {dec}) * s2 - CAST(s2 AS {dec}) * s2)"
        f" + (CAST(n AS {dec}) * s3 - CAST(s3 AS {dec}) * s3)"
        f" + (CAST(n AS {dec}) * s4 - CAST(s4 AS {dec}) * s4))"
    )
    tot = f"(CAST(n AS {dec}) * qt - CAST(st AS {dec}) * st)"
    num = f"({tot} - {items})"
    return g.select(
        F.expr("CAST(n AS BIGINT)").alias("n_docs"),
        F.expr(
            f"CAST({items} * 1000000 div {tot} AS BIGINT)"
        ).alias("item_var_share_ppm"),
        F.expr(
            f"CASE WHEN {tot} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
            f" * (abs(CAST(4 AS {dec}) * {num}) * 1000000"
            f" div (CAST(3 AS {dec}) * {tot})) AS BIGINT) END"
        ).alias("cronbach_alpha_micro"),
    )


def _item_rest_oracle() -> str:
    sums = []
    for i in (1, 2, 3, 4):
        rest = " + ".join(f"f{j}" for j in (1, 2, 3, 4) if j != i)
        sums.append(f"CAST(SUM(f{i}) AS BIGINT) AS s{i}")
        sums.append(f"CAST(SUM(CAST({rest} AS HUGEINT))"
                    f" AS HUGEINT) AS r{i}")
        sums.append(
            f"CAST(SUM(CAST({rest} AS HUGEINT) * ({rest})) AS HUGEINT)"
            f" AS rr{i}"
        )
        sums.append(
            f"CAST(SUM(CAST(f{i} AS HUGEINT) * ({rest})) AS HUGEINT)"
            f" AS xr{i}"
        )
    br = lambda c: f"CAST(CAST({c} AS VARCHAR) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    sel = []
    for i in (1, 2, 3, 4):
        num = f"({dn} * {br(f'xr{i}')} - {br(f's{i}')} * {br(f'r{i}')})"
        den = (
            f"SQRT(({dn} * {br(f's{i}')} - {br(f's{i}')}"
            f" * {br(f's{i}')})"
            f" * ({dn} * {br(f'rr{i}')} - {br(f'r{i}')}"
            f" * {br(f'r{i}')}))"
        )
        sel.append(
            f"SELECT n AS n_docs, 'f{i}' AS item,"
            f" CAST(s{i} AS BIGINT) AS item_sum, "
            + DET.det_round_sql(f"{num} / NULLIF({den}, 0.0)", 6)
            + " AS item_rest_corr FROM g"
        )
    union = "\n        UNION ALL ".join(sel)
    return f"""
    WITH t AS (SELECT text,
        list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '') AS toks
    FROM documents),
    m AS (SELECT
        len(toks) AS n_tok,
        len(list_filter(list_transform(toks, x -> lower(x)),
            x -> list_contains(['the','a','of','to','and','in','is',
                                'it','for','on'], x))) AS n_stop,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct,
        list_sum(list_transform(toks, x -> length(x))) AS tok_chars
    FROM t),
    fl AS (SELECT
        CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END
            AS f1,
        CASE WHEN n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.01
            THEN 1 ELSE 0 END AS f2,
        CASE WHEN n_chars = 0 OR CAST(n_chars - n_nopunct AS DOUBLE)
            / n_chars <= 0.2 THEN 1 ELSE 0 END AS f3,
        CASE WHEN n_tok > 0 AND CAST(tok_chars AS DOUBLE) / n_tok >= 2
            AND CAST(tok_chars AS DOUBLE) / n_tok <= 12
            THEN 1 ELSE 0 END AS f4
    FROM m),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            {", ".join(sums)}
        FROM fl)
    SELECT * FROM ({union}) ORDER BY item
"""


ORACLE_ITEM_REST = _item_rest_oracle()


@query(ORACLE_ITEM_REST)
def q_item_rest_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-rest (corrected item-total) correlations for the 4 quality
    flags: each item against the sum of the OTHER three — the
    companion diagnostic to cronbach_alpha that names WHICH flag drags
    the scale down (a near-zero or negative item-rest correlation
    marks a flag measuring something else).  All moments come from
    ONE scan (item sums, rest-score sums, cross products); each
    correlation is the bridged IEEE Pearson closed form, det6.

    Scale shape: one corpus scan with 14 integer sums; 4-row finish
    via stack."""
    docs = _t(spark, sf_dir, "documents")
    f = _quality_flags(docs)
    dec = "DECIMAL(38,0)"
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in (1, 2, 3, 4):
        rest = " + ".join(f"f{j}" for j in (1, 2, 3, 4) if j != i)
        aggs.append(F.sum(f"f{i}").alias(f"s{i}"))
        aggs.append(
            F.expr(f"SUM(CAST({rest} AS {dec}))").alias(f"r{i}")
        )
        aggs.append(
            F.expr(
                f"SUM(CAST({rest} AS {dec}) * ({rest}))"
            ).alias(f"rr{i}")
        )
        aggs.append(
            F.expr(f"SUM(CAST(f{i} AS {dec}) * ({rest}))").alias(
                f"xr{i}"
            )
        )
    g = f.agg(*aggs)
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    rows = []
    for i in (1, 2, 3, 4):
        num = f"({dn} * {br(f'xr{i}')} - {br(f's{i}')} * {br(f'r{i}')})"
        den = (
            f"SQRT(({dn} * {br(f's{i}')} - {br(f's{i}')}"
            f" * {br(f's{i}')})"
            f" * ({dn} * {br(f'rr{i}')} - {br(f'r{i}')}"
            f" * {br(f'r{i}')}))"
        )
        # Spark-side det quantization: FLOOR returns BIGINT and a bare
        # "1000000.0" literal parses as DECIMAL in Spark SQL text (the
        # chi2_keywords lesson) — cast both stages back to DOUBLE
        rows.append(
            f"'f{i}', CAST(s{i} AS BIGINT),"
            f" (CAST(FLOOR(({num} / NULLIF({den}, CAST(0.0 AS DOUBLE)))"
            " * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
            " AS DOUBLE) / CAST(1000000.0 AS DOUBLE))"
        )
    stack = ", ".join(rows)
    return g.select(
        F.expr("CAST(n AS BIGINT)").alias("n_docs"),
        F.expr(
            f"stack(4, {stack}) AS (item, item_sum, item_rest_corr)"
        ),
    ).orderBy("item")
