"""Measure the stop-valve tradeoff curves that OPERATING.md documents.

VERDICT r7 item 5: ``lsh_candidate_pairs(max_bucket=)`` and
``benchmark_decontam(max_bench_doc_freq=)`` are opt-in caps a 100 TB
operator must size. This tool measures, at a given sf dir over the
planted corpus (originals + last-word-dropped mutations, the same
corpus the registry queries use):

- the LSH bucket-size distribution and, per cap level, the pairwise
  emission volume (sum of C(c,2) over kept buckets) and the PLANTED
  RECALL (fraction of the known (d, d+offset) near-dup pairs that still
  surface as candidates) — recall comes from each planted pair's
  minimum co-bucket size, so one Spark job yields every cap level;
- the benchmark-gram document-frequency distribution and, per cap
  level, the train-bench match volume (the join's row count, computed
  arithmetically as sum of train_df x bench_df over kept grams) and the
  FLAGGED-DOC RECALL (distinct contaminated train docs still flagged,
  vs the uncapped pass) — from each train doc's minimum bench-df over
  its matched grams.

Everything collected is a histogram over bucket sizes / df values —
bounded by the distinct-size count, never by corpus size.

Usage: python tools/valve_guidance.py SF_DIR
Prints one JSON document; paste the numbers into OPERATING.md.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from kafka_firehose_nozzle_spark.operators.dedup import with_minhash
from kafka_firehose_nozzle_spark.operators.text import word_ngrams
from kafka_firehose_nozzle_spark.session import get_spark
from queries.dedup import _PLANT_OFFSET, _planted_docs

LSH_CAPS = [20, 50, 100, 200, 500, 1000, None]
DECONTAM_CAPS = [2, 5, 10, 20, 50, 100, None]


def _cum(hist: dict[int, tuple[int, int]], cap: int | None) -> tuple[int, int]:
    """(volume, hits) at a cap from a {size: (volume_at_size, hits_at_size)}
    histogram; cap None = no cap."""
    vol = hits = 0
    for size, (v, h) in hist.items():
        if cap is None or size <= cap:
            vol += v
            hits += h
    return vol, hits


def lsh_curves(spark, sf_dir: str) -> dict:
    docs = _planted_docs(spark, sf_dir)
    n_planted = docs.filter(F.col("doc_id") < _PLANT_OFFSET).count()
    banded = (
        with_minhash(docs, "text", 8, 4)
        .select("doc_id", F.posexplode_outer("lsh_bands").alias("band_ix", "band_hash"))
        .localCheckpoint(eager=False)
    )
    sizes = banded.groupBy("band_ix", "band_hash").agg(
        F.count(F.lit(1)).alias("c")
    )
    # bucket-size histogram -> per-cap pair volume, all caps in one pass.
    # Tuple layout is (volume, hits) — _cum sums index 0 as the volume,
    # so PAIRS must come first (the first sf1 run stored (n_buckets,
    # pairs) and reported bucket counts as "pair volume": 28,510 for a
    # corpus whose largest single bucket already implies 33,670 pairs).
    raw = {
        int(r["c"]): (int(r["n_buckets"]), int(r["pairs"]))
        for r in sizes.groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.expr("c * (c - 1) / 2")).cast("long").alias("pairs"),
        )
        .collect()  # bounded: one row per DISTINCT bucket size
    }
    size_hist = {s: (pairs, 0) for s, (_, pairs) in raw.items()}
    # planted pair (d, d+offset): min co-bucket size over the bands where
    # both land in the same bucket -> recall at every cap from one job
    withn = banded.join(sizes, ["band_ix", "band_hash"])
    a = withn.filter(F.col("doc_id") < _PLANT_OFFSET).select(
        "band_ix",
        "band_hash",
        F.col("doc_id").alias("d"),
        (F.col("doc_id") + _PLANT_OFFSET).alias("partner"),
        "c",
    )
    b = withn.select(
        "band_ix", "band_hash", F.col("doc_id").alias("partner")
    )
    pair_min = (
        a.join(b, ["band_ix", "band_hash", "partner"])
        .groupBy("d")
        .agg(F.min("c").alias("min_c"))
    )
    min_hist = {
        int(r["min_c"]): (0, int(r["n"]))
        for r in pair_min.groupBy("min_c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per distinct min bucket size
    }
    out = {
        "n_original_docs": n_planted,
        "max_bucket_size": max(size_hist),
        "n_buckets_over_100": sum(
            n for s, (n, _) in raw.items() if s > 100
        ),
        "n_buckets_over_1000": sum(
            n for s, (n, _) in raw.items() if s > 1000
        ),
        "caps": {},
    }
    for cap in LSH_CAPS:
        vol, _ = _cum(size_hist, cap)
        _, found = _cum(min_hist, cap)
        out["caps"][str(cap)] = {
            "pair_volume": vol,
            "planted_recall": round(found / n_planted, 4),
        }
    return out


def decontam_curves(spark, sf_dir: str, n: int = 8) -> dict:
    docs = _planted_docs(spark, sf_dir)
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 3)
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 3)

    def hashed(df, out_id):  # mirrors text.benchmark_decontam's probe rows
        grams = F.array_distinct(word_ngrams(F.col("text"), n))
        return (
            df.select(F.col("doc_id").alias(out_id), F.explode(grams).alias("g"))
            .select(
                out_id,
                F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
                .cast("bigint")
                .alias("gh"),
            )
            .distinct()
        )

    bdf = hashed(bench, "bench_id").groupBy("gh").agg(
        F.count(F.lit(1)).alias("bench_df")
    )
    t = hashed(train, "train_id")
    tdf = t.groupBy("gh").agg(F.count(F.lit(1)).alias("train_df"))
    joined = tdf.join(bdf, "gh")
    # per-df-value volume histogram: match volume at cap K is the sum of
    # train_df x bench_df over grams with bench_df <= K
    vol_hist = {
        int(r["bench_df"]): (int(r["vol"]), 0)
        for r in joined.groupBy("bench_df")
        .agg(F.sum(F.col("train_df") * F.col("bench_df")).alias("vol"))
        .collect()  # bounded: one row per distinct bench-df value
    }
    # per-train-doc min bench_df over matched grams -> recall at every cap
    doc_min = (
        t.join(bdf, "gh")
        .groupBy("train_id")
        .agg(F.min("bench_df").alias("min_df"))
    )
    min_hist = {
        int(r["min_df"]): (0, int(r["n"]))
        for r in doc_min.groupBy("min_df")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded as above
    }
    _, flagged_uncapped = _cum(min_hist, None)
    out = {
        "n_bench_grams": int(bdf.count()),
        "max_bench_df": max(vol_hist) if vol_hist else 0,
        "flagged_train_docs_uncapped": flagged_uncapped,
        "caps": {},
    }
    for cap in DECONTAM_CAPS:
        vol, _ = _cum(vol_hist, cap)
        _, flagged = _cum(min_hist, cap)
        out["caps"][str(cap)] = {
            "match_volume": vol,
            "flagged_recall": round(flagged / flagged_uncapped, 4)
            if flagged_uncapped
            else 1.0,
        }
    return out


def main() -> int:
    sf_dir = sys.argv[1]
    spark = get_spark("valve-guidance")
    result = {
        "sf_dir": sf_dir,
        "lsh": lsh_curves(spark, sf_dir),
        "decontam": decontam_curves(spark, sf_dir),
    }
    print(json.dumps(result, indent=2), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
