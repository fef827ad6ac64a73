"""Answer-verify pq_recall_eval at sf100 via a STAGED oracle replay.

The registry oracle (ORACLE_PQ_RECALL) embeds ORACLE_ANN twice and
ORACLE_PQ_ANN twice in one statement, so DuckDB materializes the full
PQ pipeline (codebook training + 2M-vector encode + ADC scan) and the
brute-force scan TWICE each — at sf100 that spills past the free disk
(r11 journal: duckdb_temp_block write failed at 837 s, reproduced at
max headroom). The math is NOT infeasible — both sub-oracles run fine
alone (ann_cosine_topk strict-passed sf100 in r9; pq_ann_topk
strict-passed THIS round in 336 s). Only their 4-way self-join in a
single statement is.

So the staged replay runs the registry oracle's OWN text, decomposed
exactly as its f-string composes it:

  stage 1: ORACLE_ANN          -> 10 exact top-k ids     (DuckDB)
  stage 2: ORACLE_PQ_ANN       -> 10 ADC top-k ids       (DuckDB)
  stage 3: the outer SELECT's arithmetic (counts, overlap,
           recall_ppm = n_overlap * 1e6 // n_exact)      (exact ints,
           Python — same floor-div semantics)

and compares against the Spark registry query (q_pq_recall_eval) with
the sweep's own strict comparator semantics (value-exact on all four
BIGINT columns). Two-axis independence is preserved: every number the
final row derives from is computed by DuckDB running registry oracle
text, never by Spark.

Run AFTER the main sweep (never concurrently — shared disk/CPU).

Usage: python tools/sf100_pq_recall_check.py [SF_DIR]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from queries.similarity import ORACLE_ANN, ORACLE_PQ_ANN
from tools.compare_oracle import oracle_connection

from kafka_firehose_nozzle_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    t0 = time.time()
    con = oracle_connection(sf_dir)
    con.execute("SET memory_limit='48GB'")

    exact_ids = {
        int(r[0]) for r in con.execute(ORACLE_ANN).fetchall()
    }
    t1 = time.time()
    print(f"stage 1 ORACLE_ANN: {len(exact_ids)} ids in {t1 - t0:.1f}s",
          flush=True)

    pq_ids = {
        int(r[0]) for r in con.execute(ORACLE_PQ_ANN).fetchall()
    }
    t2 = time.time()
    print(f"stage 2 ORACLE_PQ_ANN: {len(pq_ids)} ids in {t2 - t1:.1f}s",
          flush=True)

    n_exact, n_pq = len(exact_ids), len(pq_ids)
    n_overlap = len(exact_ids & pq_ids)
    recall_ppm = n_overlap * 1_000_000 // n_exact
    oracle_row = (n_exact, n_pq, n_overlap, recall_ppm)

    spark = get_spark(
        "pq-recall-check", extra_conf={"spark.sql.ansi.enabled": "true"}
    )
    from kafka_firehose_nozzle_spark.session import configure_shuffle_for_input

    configure_shuffle_for_input(spark, sf_dir)
    got = entrymod.queries()["pq_recall_eval"](spark, sf_dir).collect()
    assert len(got) == 1, got
    spark_row = tuple(int(got[0][c]) for c in
                      ("n_exact", "n_pq", "n_overlap", "recall_ppm"))
    ok = spark_row == oracle_row
    print(json.dumps({
        "query": "pq_recall_eval",
        "sf_dir": sf_dir,
        "spark": dict(zip(("n_exact", "n_pq", "n_overlap", "recall_ppm"),
                          spark_row)),
        "oracle_staged": dict(zip(("n_exact", "n_pq", "n_overlap",
                                   "recall_ppm"), oracle_row)),
        "match": ok,
        "elapsed_sec": round(time.time() - t0, 1),
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
