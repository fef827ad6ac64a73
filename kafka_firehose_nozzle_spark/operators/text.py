"""Text analysis for training-data pipelines: tokenization, quality
scoring, language-ID heuristic, fingerprinting.

All pure column expressions (JVM codegen, no UDFs, no shuffle) — at 100 TB
these fuse into the parquet scan stage. Deterministic md5-based hashing is
used for fingerprints so results are reproducible across engines (the
DuckDB oracle computes the identical formula).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.functions.detmath import det_round

# Small function-word list used by the quality/lang heuristics. Chosen from
# common English function words; the heuristic is deterministic, which is
# what matters for oracle checking.
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]

TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty strings filtered."""
    return F.filter(F.split(F.trim(text), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def ngram_strings(toks: Column, k: int) -> Column:
    """Space-joined word k-grams via k shifted slices combined with
    k-1 zip_withs.  The array expression is evaluated k+1 times per ROW
    (a constant), never once per position: interpreted HOFs re-evaluate
    their array argument on every call, so the obvious
    ``transform(sequence(...), i -> slice(toks, i+1, k))`` re-tokenizes
    the document once per position — O(tokens²) work that measured 3x
    end-to-end on the sf1 bigram query (round 4).  Callers guard
    ``size(toks) >= k``; shorter inputs yield an empty array here.

    Equivalent to ``concat_ws(' ', slice(toks, i+1, k))`` for non-null
    tokens (the tokenizers here never produce null elements)."""
    m = F.size(toks) - (k - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc,
            F.slice(toks, j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish proxy: word-pieces split on non-alphanumerics plus a
    4-chars-per-piece length charge for long words (rough subword count)."""
    words = F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.when(F.length(w) <= 4, F.lit(1)).otherwise(
            F.ceil(F.length(w) / 4).cast("int")
        ),
    )


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def avg_word_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length band + stopword
    presence + low punctuation. (Gopher-style rule-of-thumb filters.)"""
    n_tok = token_count(text)
    length_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(text) >= 0.01, 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.0)
    wordlen = avg_word_len(text)
    wordlen_ok = F.when((wordlen >= 2) & (wordlen <= 12), 1.0).otherwise(0.0)
    return (length_ok + stop_ok + punct_ok + wordlen_ok) / F.lit(4.0)


def lang_id(text: Column) -> Column:
    """Heuristic language ID from function-word hits (n-gram heuristic).

    Deterministic and cheap; real corpora would use a trained model — the
    operator contract (a string lang code column) is what downstream
    pipelines depend on.
    """
    toks = F.slice(tokens(F.lower(text)), 1, 64)  # cap work per row

    def hits(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(words)))

    en = hits(["the", "and", "of", "is", "to"])
    de = hits(["der", "die", "das", "und", "ist"])
    fr = hits(["le", "la", "les", "et", "est"])
    es = hits(["el", "los", "las", "y", "es"])
    return (
        F.when((de > en) & (de >= fr) & (de >= es), "de")
        .when((fr > en) & (fr >= es), "fr")
        .when(es > en, "es")
        .otherwise("en")
    )


def normalize_text(text: Column) -> Column:
    """Whitespace-collapse + lowercase + trim: canonical form for hashing."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint: md5 over normalized text (stable across
    engines; DuckDB md5() produces the identical hex)."""
    return F.md5(normalize_text(text))


def rolling_hash_fingerprint(text: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: the minimum md5-derived 60-bit
    value over the document's word 8-grams. Robust to local edits (the min
    survives unless the minimal window changes)."""
    grams = word_ngrams(text, window)
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )
    return F.array_min(hashes)


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-grams of the normalized text (array<string>); documents
    shorter than n words yield their single joined form."""
    toks = tokens(normalize_text(text))
    cnt = F.size(toks)
    return F.when(cnt >= n, ngram_strings(toks, n)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def repetition_score(text: Column, n: int = 3) -> Column:
    """Within-document repetition: 1 - distinct/total word n-grams.

    Standard LLM-corpus quality gate (repetitive boilerplate, looped
    generations score high). Pure column expression — int/int division,
    so both engines produce the identical double.
    """
    grams = word_ngrams(text, n)
    return det_round(
        F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 6
    )


def ngram_containment(
    train,
    test,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    """Train/test contamination check: per test document, the fraction of
    its distinct word n-grams that appear anywhere in the train corpus.

    Scale shape: explode distinct n-grams per test doc (narrow), build the
    train corpus's distinct gram set with one hash aggregation, then a
    shuffled hash semi-join on the gram followed by a partial-aggregated
    per-doc count. No pairwise document comparison anywhere — cost is
    O(grams), not O(docs^2). At 100 TB the semi-join is the place to add
    a bloom filter on the train-gram set; the plan shape is unchanged.
    """
    tg = test.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g"),
    )
    tr = (
        train.select(
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g")
        )
        .distinct()
    )
    matched = (
        tg.join(tr, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    total = tg.groupBy(id_col).agg(F.count(F.lit(1)).alias("_t"))
    return total.join(matched, id_col, "left").select(
        id_col,
        det_round(F.coalesce(F.col("_m"), F.lit(0)) / F.col("_t"), 6).alias(
            "containment"
        ),
    )


def bloom_contamination(
    train,
    test,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m: int = 65536,
    k: int = 4,
):
    """Bloom-filter train/test contamination audit — the 100 TB shape of
    ``ngram_containment``: instead of semi-joining test grams against the
    FULL distinct train-gram set (shuffle at gram cardinality), build an
    m-bit Bloom filter of the train grams once and broadcast it. The
    filter here is a ≤ m-row distinct-position table (m = 64Ki default,
    ~512 KB of longs), so the test side joins against a broadcast no
    matter how large the train corpus grows; per test doc the output
    reports total grams, Bloom maybe-hits, exact hits, and the false
    positives the m/k choice cost — the audit a pipeline runs before
    trusting the filter.

    Hashes are the md5 route (seeds 101..100+k), so the filter content is
    bit-deterministic and the DuckDB oracle replays it exactly.
    """
    from kafka_firehose_nozzle_spark.operators.dedup import _h

    def positions(g: Column) -> Column:
        return F.array(
            *[F.pmod(_h(g, 101 + j), F.lit(m)) for j in range(k)]
        )

    grams = lambda df: df.select(  # noqa: E731 - local shorthand
        *([F.col(id_col)] if id_col in df.columns else []),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("g"),
    )
    filter_pos = (
        grams(train.select(text_col))
        .select(F.explode(positions(F.col("g"))).alias("pos"))
        .distinct()
    )
    train_grams = grams(train.select(text_col)).distinct()
    tg = grams(test.select(id_col, text_col))
    tg_pos = tg.select(id_col, "g", F.explode(positions(F.col("g"))).alias("pos"))
    maybe = (
        tg_pos.join(F.broadcast(filter_pos), "pos", "left_semi")
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == k)  # every probe bit set -> maybe
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_maybe"))
    )
    exact = (
        tg.join(train_grams, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    total = tg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        total.join(maybe, id_col, "left")
        .join(exact, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("n_maybe"), F.lit(0)).alias("n_maybe"),
            F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
            (
                F.coalesce(F.col("n_maybe"), F.lit(0))
                - F.coalesce(F.col("n_exact"), F.lit(0))
            ).alias("n_false_pos"),
        )
    )


# PII patterns: RE2-safe subset (works in both Java regex and DuckDB's RE2)
_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d[\d\-]{7,}\d"


def scrub_pii(text: Column) -> Column:
    """Redact emails, IPv4 addresses, and international phone numbers.

    Training-data hygiene op: pure JVM ``regexp_replace`` chain (no UDF,
    codegen'd, embarrassingly parallel — order matters: emails first so
    their digit runs can't be half-eaten by the phone pattern).
    """
    out = F.regexp_replace(text, _PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, _PII_IPV4, "<IP>")
    return F.regexp_replace(out, _PII_PHONE, "<PHONE>")


# --- BPE tokenizer training (merge learning) --------------------------------


def bpe_base_symbols(text: Column) -> Column:
    """Space-joined character symbols of the normalized text, spaces
    rendered as '_' (the visible word-boundary marker byte-level BPE
    vocabularies use).  'ab c' -> 'a b _ c'."""
    s = F.regexp_replace(normalize_text(text), " ", "_")
    return F.array_join(F.filter(F.split(s, ""), lambda c: c != ""), " ")


def _adjacent_pairs(spaced: Column) -> Column:
    """Adjacent symbol pairs ('a b') of a space-joined symbol string —
    the staged shifted-slice zip_with shape (never element_at inside a
    positions transform; interpreted HOFs re-evaluate their array
    argument per call)."""
    syms = F.split(spaced, " ")
    m = F.size(syms) - 1
    return F.when(
        m >= 1,
        F.zip_with(
            F.slice(syms, 1, m),
            F.slice(syms, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.lit(None).cast("array<string>"))


def bpe_learn_merges(
    df: DataFrame, text_col: str, n_merges: int = 8
) -> list[tuple[str, int]]:
    """Learn a BPE merge table in-engine: ``n_merges`` rounds of
    (count adjacent symbol pairs -> take the most frequent -> merge it
    corpus-wide).  Returns [(pair, count)] in rank order.

    Spark-first decomposition per round:
    - pair counting is explode -> partial-aggregated groupBy (shuffle
      carries distinct-pair cardinality, not corpus positions);
    - the winning pair is ONE row collected to the driver (the same
      scalar-per-round contract as the k-means and connected-components
      loops);
    - the merge applies as a literal string replace on the space-joined
      symbol form — '(space)a b(space)' -> '(space)ab(space)' on a
      padded string — a pure map fused into the next round's scan.
      Replace-all consumes the boundary space between back-to-back
      occurrences, so the replace runs TWICE per round (catches the
      alternating case); self-adjacent runs ('a a a a') can still pick
      a different (equally frequent) pairing than strict left-to-right
      BPE — the deviation is deterministic and IDENTICAL in both
      engines, which is the contract that matters here.

    The corpus column is localCheckpointed every round to keep the
    replace-chain lineage flat; at production scale each round would
    persist to the lake instead.  Fully deterministic (count-desc,
    pair-asc tie break): a plain-SQL oracle replays the whole training
    run (queries.text.ORACLE_BPE_MERGES)."""
    spark = df.sparkSession
    # Fan the spaced corpus ONCE before the rounds and checkpoint it:
    # every round's pair explode + replace is dense per-char work
    # (~chars-per-corpus interpreted ops), and on the single-split local
    # testdata the whole loop otherwise runs in ONE task per round
    # (r11 thread-dump finding; 17 s -> ~4 s for 8 rounds at sf0.1).
    # The un-checkpointed seed was also recomputed by round 1's count
    # AND cur_1's materialization. One ~corpus-sized exchange buys all
    # n_merges rounds of parallelism; on a multi-row-group lake the
    # repartition is still one cheap rebalance of the active corpus
    # column. Values are partitioning-independent (count/tie-break is
    # deterministic), so the learned table is unchanged.
    cur = (
        df.select(bpe_base_symbols(F.col(text_col)).alias("s"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, int]] = []
    for _ in range(n_merges):
        top = (
            cur.select(F.explode_outer(_adjacent_pairs(F.col("s"))).alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("p"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["p"], int(top[0]["cnt"])
        merges.append((pair, cnt))
        merged = pair.replace(" ", "")
        s = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        for _pass in range(2):
            s = F.replace(s, F.lit(f" {pair} "), F.lit(f" {merged} "))
        cur = cur.select(F.trim(s).alias("s")).localCheckpoint(eager=False)
    return merges


def bpe_apply(text: Column, merges: list[str]) -> Column:
    """Tokenize with a learned merge table: chain one literal replace
    per merge (rank order) over the space-joined symbol string, then
    split.  Pure JVM expression — no UDF, fuses into the scan."""
    s = F.concat(F.lit(" "), bpe_base_symbols(text), F.lit(" "))
    for pair in merges:
        for _pass in range(2):
            s = F.replace(s, F.lit(f" {pair} "), F.lit(f" {pair.replace(' ', '')} "))
    return F.filter(F.split(F.trim(s), " "), lambda t: t != "")


def duplicated_window_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Corpus-level duplicated-window detection — the distributed
    window-hash approximation of suffix-array exact-substring dedup
    (Lee et al. 2022 deduplicate ~50-token exact substrings with a
    single-machine suffix array; at 100 TB the equivalent signal is
    "how much of this document's n-gram windows appear verbatim in
    OTHER documents").

    Per document: distinct word ``n``-gram windows, each hashed to a
    60-bit md5-derived key BEFORE the shuffle (fixed-width ints, not
    window strings, cross the wire). One hash aggregation computes each
    window's document frequency; a join + per-doc partial agg yields
    [doc_id, n_windows, dup_windows, dup_ppm] where dup_ppm is the
    exact-integer fraction (x1e6, floor-div) of windows shared with at
    least one other document.

    Scale shape: explode -> two hash aggregations + one shuffled
    equi-join on the window hash. O(total windows), never O(docs^2);
    the window-frequency table is the corpus's duplicated fringe and is
    the side to bloom-filter at extreme scale."""
    grams = F.array_distinct(word_ngrams(F.col(text_col), n))
    hashed = df.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(
        id_col,
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("long")
        .alias("gh"),
    )
    dfreq = hashed.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    return (
        hashed.join(dfreq, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("df") >= 2).cast("long")).alias("dup_windows"),
        )
        .withColumn(
            "dup_ppm", F.expr("dup_windows * 1000000 div n_windows")
        )
    )


def benchmark_decontam(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_bench_doc_freq: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag TRAINING documents that share at
    least one verbatim word ``n``-gram with a held-out benchmark set —
    the GPT-3-style 13-gram decontamination pass every training corpus
    runs before a model ships (here over word n-grams; the window size
    is the caller's contract with their eval suite).

    Direction matters: ngram_containment scores how contaminated each
    TEST doc is; this flags the TRAIN docs to drop, which is the
    actionable output of a decontamination run.

    Per flagged train doc: distinct shared n-grams and distinct
    benchmark docs hit.  Scale shape: both sides explode to distinct
    (doc, 60-bit gram hash) pairs — fixed-width ints cross the wire,
    never gram strings; the benchmark side is BROADCAST (an eval suite
    is MBs against a 100 TB corpus), so the train-side explode never
    shuffles at all and the flagging is a map-side hash probe.

    ``max_bench_doc_freq`` is the stop-gram valve (the sf10 lesson,
    SCALE.md round 7): a gram appearing in many BENCHMARK docs is
    boilerplate, and every train doc carrying it matches all of them —
    match volume grows as clique², not corpus size.  With the cap,
    grams whose benchmark document frequency exceeds it are dropped
    from the probe side (a count+filter over the already-tiny
    broadcast table, zero extra cost on the corpus side).  Default
    None preserves exact every-gram semantics (oracle-pinned)."""
    def hashed(df: DataFrame, out_id: str) -> DataFrame:
        grams = F.array_distinct(word_ngrams(F.col(text_col), n))
        return (
            df.select(F.col(id_col).alias(out_id), F.explode(grams).alias("g"))
            .select(
                out_id,
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
                .cast("bigint")
                .alias("gh"),
            )
            .distinct()
        )

    t = hashed(train, "train_id")
    b = hashed(bench, "bench_id")
    if max_bench_doc_freq is not None:
        from kafka_firehose_nozzle_spark.operators.skew import cap_group_size

        b = cap_group_size(b, ["gh"], max_bench_doc_freq)
    return (
        t.join(F.broadcast(b), "gh")
        .groupBy("train_id")
        .agg(
            F.count_distinct("gh").alias("n_shared_grams"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
    )


def bigram_lm_scores(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document bigram language-model score — the CCNet/KenLM-style
    perplexity filter one tier up from the unigram version: p(w2|w1) =
    (c(w1w2) + 1) / (ctx(w1) + V), add-one smoothed, contexts counted
    from the bigram table itself (so doc-final tokens never inflate a
    denominator).  Emits (doc_id, n_bigrams, avg_logprob, ppl); docs
    with < 2 tokens have no bigram events and are excluded.

    Determinism: each term is ln(cb+1) − ln(ctx+V) — log-space, so no
    integer product can overflow at any corpus size (the pmi_bigrams
    lesson) — det_rounded to 6dp and summed as DECIMAL(20,6): the sum
    is exact and order-independent, so shuffle order can't change the
    emitted double.  ppl = exp(−avg) of the ALREADY-quantized average.

    Scale shape: one distinct-vocab aggregate (the only driver scalar),
    two count tables at vocab/bigram-type cardinality — the broadcast
    knob at 100 TB, since token types grow ~Heaps-sublinearly while
    occurrences grow linearly — and one per-doc partial agg.  Shuffles
    carry count rows and (doc, bigram) occurrences, never documents.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("toks"),
    )
    vocab = int(
        toks.select(F.explode("toks").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
        .head()["v"]
    )
    occ = toks.filter(F.size("toks") >= 2).select(
        "doc_id", F.explode(ngram_strings(F.col("toks"), 2)).alias("bg")
    )
    cb = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    cw = (
        occ.select(F.split(F.col("bg"), " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    term = det_round(
        F.log((F.col("cb") + F.lit(1)).cast("double"))
        - F.log((F.col("cw") + F.lit(vocab)).cast("double")),
        6,
    ).cast("decimal(20,6)")
    per = (
        occ.join(cb, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(cw, "w1")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(term).alias("s"))
    )
    avg = det_round(F.col("s").cast("double") / F.col("n_bigrams"), 4)
    return per.select(
        "doc_id",
        "n_bigrams",
        avg.alias("avg_logprob"),
        det_round(F.exp(-avg), 4).alias("ppl"),
    )


def winnow_fingerprints(
    docs,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    algorithm): hash every word ``k``-gram, slide a ``w``-wide window
    over the hash sequence, keep each window's minimum (leftmost on
    ties), dedupe repeated selections.  Guarantees every shared run of
    ``w + k - 1`` tokens between two documents yields at least one
    IDENTICAL (hash, offset-independent) fingerprint — the property
    that makes cross-doc plagiarism/boilerplate detection an equi-join
    on the fingerprint hash instead of any pairwise comparison.

    The (hash, position) argmin is encoded in ONE int64 —
    ``hash40 * 2^20 + pos`` (40-bit md5 prefix, docs bounded well under
    2^20 grams) — so a single MIN window aggregate performs the
    tie-broken argmin exactly; no struct ordering semantics are relied
    on cross-engine.  Docs shorter than ``k`` tokens have no grams and
    are excluded; sequences shorter than ``w`` yield their global min
    (the ROWS frame truncates at the partition edge).

    Scale shape: one explode to (doc, pos, hash) and one per-doc
    window — partitioned by doc_id, each partition bounded by document
    length, so the sort never globalizes.  Output is distinct
    fingerprint rows, ~1/w of gram volume.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("toks"),
    )
    grams = toks.filter(F.size("toks") >= k).select(
        "doc_id",
        F.posexplode(ngram_strings(F.col("toks"), k)).alias("pos", "gram"),
    )
    h40 = F.conv(F.substring(F.md5("gram"), 1, 10), 16, 10).cast("bigint")
    enc = grams.select(
        "doc_id",
        "pos",
        (h40 * F.lit(1 << 20) + F.col("pos")).alias("comb"),
    )
    sel_win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        0, w - 1
    )
    per_doc = Window.partitionBy("doc_id")
    sel = enc.select(
        "doc_id",
        "pos",
        F.min("comb").over(sel_win).alias("sel"),
        F.count(F.lit(1)).over(per_doc).alias("m"),
    ).filter(F.col("pos") <= F.greatest(F.col("m") - F.lit(w), F.lit(0)))
    return (
        sel.select(
            "doc_id",
            F.expr("sel div 1048576").alias("fp_hash"),
            F.pmod("sel", F.lit(1 << 20)).cast("int").alias("fp_pos"),
        )
        .distinct()
    )


def gram_novelty(
    docs,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document content novelty by first-seen attribution: of a
    document's DISTINCT word ``n``-grams, how many first appear in THIS
    document (no lower doc_id contains them)?  The dedup-adjacent
    curation signal substring_dup_spans doesn't give: spans tell you
    WHAT is duplicated, novelty tells you WHO introduced it — low
    novelty marks near-pure recombinations of earlier content (drop
    candidates under an ingest-order or priority-order id).

    Emits (doc_id, n_grams, novel_grams, novelty_ppm) with the exact
    integer-ppm average idiom — no double is ever rounded.

    Scale shape: explode to distinct (doc, gram-hash) pairs (fixed-
    width int64s cross the wire, never gram strings), one MIN(doc_id)
    aggregation at gram-type cardinality with map-side partials, one
    equi-join back.  Nothing is pairwise in documents; AQE skew-splits
    a boilerplate gram shared by millions of docs.
    """
    pairs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(normalize_text(F.col(text_col))).alias("toks"),
        )
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.when(
                        F.size("toks") >= n,
                        ngram_strings(F.col("toks"), n),
                    ).otherwise(
                        F.array(F.concat_ws(" ", F.col("toks")))
                    )
                )
            ).alias("gram"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh"),
        )
        .distinct()
    )
    first = pairs.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    per = (
        pairs.join(first, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), F.lit(1))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("novel_grams"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "novel_grams",
        F.expr(
            "(novel_grams div n_grams) * 1000000"
            " + ((novel_grams % n_grams) * 2000000 + n_grams)"
            " div (2 * n_grams)"
        ).alias("novelty_ppm"),
    )


def winnow_dup_pairs(
    docs,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Candidate near-duplicate pairs from winnowing fingerprints: docs
    sharing >= ``min_shared`` distinct fingerprint hashes, found by an
    equi-join WITHIN fingerprint buckets — the MOSS match step, and the
    third blocking family in the repo next to MinHash-band and
    sign-LSH buckets.

    Stop-fingerprint cap: a hash present in more than
    ``max_docs_per_fp`` documents is ubiquitous boilerplate whose
    bucket would contribute O(bucket²) pairs while carrying no
    discriminative signal — exactly a stop-word — so it is dropped
    BEFORE the self-join.  That bounds per-bucket pair fan-out by
    ``max_docs_per_fp²`` regardless of corpus size, the same
    heavy-bucket discipline the LSH paths use.

    Emits (doc_a, doc_b, n_shared) with doc_a < doc_b.  Scale shape:
    distinct (doc, hash) pairs, one per-hash count for the cap, one
    bucketed self-equi-join on the int64 hash; nothing is ever
    all-pairs across the corpus.
    """
    fps = (
        winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    width = fps.groupBy("fp_hash").agg(
        F.count(F.lit(1)).alias("nd")
    )
    kept = fps.join(
        width.filter(F.col("nd") <= max_docs_per_fp), "fp_hash"
    ).select("doc_id", "fp_hash")
    a = kept.select(
        F.col("fp_hash"), F.col("doc_id").alias("doc_a")
    )
    b = kept.select(
        F.col("fp_hash"), F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def gopher_flags(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style rule-based quality flags (Rae et al. 2021 §A1.1,
    public paper): per document, the four cheap structural rules a
    pretraining corpus is screened with before any model-based scoring —
    word-count bounds, mean-word-length bounds, minimum distinct
    function-word presence, and a max single-token dominance cap (the
    "repetition" rule family).  Every statistic is exact-integer
    (centichars / ppm), so the DuckDB oracle replays it bit-for-bit.

    Emits (doc_id, n_words, mean_centilen, n_stop, top_tok_ppm,
    flag_word_count, flag_mean_len, flag_stopwords, flag_repetition,
    passes).

    Scale shape: one explode to (doc, token) rows, ONE hash aggregate
    at (doc, token) cardinality producing per-token counts, then a
    per-doc rollup — both aggs run with map-side partials and shuffle
    only fixed-width rows.  The per-doc mode (top token count) factors
    through the (doc, token) count table instead of an O(distinct x
    len) array HOF, so per-doc work stays linear in document length on
    real text where distinct ~ len.  No UDFs, no windows, no joins.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.length("tok")).alias("chars"),
    )
    stop = F.col("tok").isin(STOPWORDS)
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.sum("chars").alias("n_chars"),
        F.max("c").alias("top_c"),
        F.sum(F.when(stop, F.lit(1)).otherwise(F.lit(0))).alias("n_stop"),
    )
    mean_centi = F.expr("n_chars * 100 div n_words")
    top_ppm = F.expr("top_c * 1000000 div n_words")
    out = per_doc.select(
        "doc_id",
        "n_words",
        mean_centi.alias("mean_centilen"),
        F.col("n_stop").cast("bigint").alias("n_stop"),
        top_ppm.alias("top_tok_ppm"),
    )
    f_wc = F.when(
        (F.col("n_words") >= 20) & (F.col("n_words") <= 100000),
        F.lit(1),
    ).otherwise(F.lit(0))
    f_ml = F.when(
        (F.col("mean_centilen") >= 300) & (F.col("mean_centilen") <= 1000),
        F.lit(1),
    ).otherwise(F.lit(0))
    f_st = F.when(F.col("n_stop") >= 2, F.lit(1)).otherwise(F.lit(0))
    f_rep = F.when(F.col("top_tok_ppm") <= 200000, F.lit(1)).otherwise(
        F.lit(0)
    )
    return out.select(
        "*",
        f_wc.alias("flag_word_count"),
        f_ml.alias("flag_mean_len"),
        f_st.alias("flag_stopwords"),
        f_rep.alias("flag_repetition"),
    ).withColumn(
        "passes",
        F.col("flag_word_count")
        * F.col("flag_mean_len")
        * F.col("flag_stopwords")
        * F.col("flag_repetition"),
    )


def heaps_vocab_growth(
    docs,
    n_docs: int,
    n: int = 2,
    buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Heaps-law vocabulary-growth curve: cumulative distinct word
    ``n``-gram TYPES vs cumulative gram OCCURRENCES after each
    ingest-order decile of the corpus — the curve that decides when a
    tokenizer vocab / dedup threshold has seen enough data (new-type
    rate flattening = diminishing novelty).  ``n_docs`` is the corpus
    document count, passed in by the caller (one bounded scalar agg,
    the fano-bounds idiom).

    Emits (bucket, n_grams, new_types, cum_grams, cum_types) — all
    exact BIGINTs; novelty per decile is new_types directly.

    Scale shape: the same first-seen factoring as gram_novelty — every
    gram ships as a fixed-width int64 hash, type attribution is ONE
    MIN(doc_id) aggregate at type cardinality, and the decile rollups
    are bucket-sized (<= ``buckets`` rows) before a trivial running
    sum over a ``buckets``-row frame.  Nothing is pairwise and the
    window sorts ``buckets`` rows, not the corpus.
    """
    from pyspark.sql.window import Window

    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            tokens(normalize_text(F.col(text_col))).alias("toks"),
        )
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(ngram_strings(F.col("toks"), n)).alias("gram"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh"),
        )
    )
    bkt = F.least(
        F.expr(f"doc_id * {buckets} div {n_docs}"), F.lit(buckets - 1)
    )
    occ = grams.select(bkt.alias("bucket"), "gh")
    per_bucket = occ.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    first = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    new_types = (
        first.select(
            F.least(
                F.expr(f"first_doc * {buckets} div {n_docs}"),
                F.lit(buckets - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    joined = (
        per_bucket.join(new_types, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "bucket",
        "n_grams",
        "new_types",
        F.sum("n_grams").over(w).alias("cum_grams"),
        F.sum("new_types").over(w).alias("cum_types"),
    )


def feature_hash_buckets(
    docs,
    n_buckets: int = 64,
    top: int = 8,
    group_col: str = "source",
    text_col: str = "text",
):
    """Signed hashing-trick featurization (Weinberger et al. 2009,
    public paper): every token maps to ``hash % n_buckets`` with a
    +/-1 sign drawn from an independent hash bit, token counts
    accumulate signed into the bucket — the collision-unbiased sparse
    bag-of-words used to featurize corpora for cheap linear quality
    classifiers without materializing a vocabulary.  Reported per
    ``group_col``: the ``top`` buckets by |weight| (tie-broken by
    bucket id), i.e. each group's dominant feature directions.

    Both hashes are md5-derived (independent hex ranges of the same
    digest), so the DuckDB oracle reproduces every bucket and sign
    bit-for-bit.

    Emits (group, bucket, weight, n_tokens, rnk).

    Scale shape: explode to tokens, ONE hash aggregate at
    (group, bucket) cardinality — bounded by groups x n_buckets
    regardless of corpus size — then a window over that bounded table.
    The token stream itself is never re-shuffled: the agg runs with
    map-side partials on fixed-width (group, int, int) rows.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    sign_bit = F.conv(F.substring(F.md5("tok"), 16, 1), 16, 10).cast(
        "bigint"
    )
    hashed = toks.select(
        "grp",
        F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
        (F.pmod(sign_bit, F.lit(2)) * F.lit(2) - F.lit(1)).alias("sign"),
    )
    agg = hashed.groupBy("grp", "bucket").agg(
        F.sum("sign").cast("bigint").alias("weight"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    w = Window.partitionBy("grp").orderBy(
        F.abs(F.col("weight")).desc(), F.col("bucket").asc()
    )
    return (
        agg.select(
            F.col("grp").alias(group_col),
            "bucket",
            "weight",
            "n_tokens",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= top)
    )
