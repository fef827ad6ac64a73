"""Answer-verify ivf_trained_topk at sf100 via a STAGED oracle replay.

The registry oracle (ORACLE_IVF_TRAINED) unrolls Lloyd's 4 iterations
as one giant CTE chain; DuckDB materializes the 128M-row posexplode
(`ex`) and every 20M-row assignment window at once and spills past the
free disk at sf100 (r11 journal: duckdb_temp_storage write failed at
1625 s, reproduced at max headroom). The MATH is one streaming
aggregation per stage — only the single-statement materialization
strategy is infeasible on one node.

The staged replay runs the registry oracle's OWN per-iteration SQL
fragments (same davg decimal-sum text, same left-fold dot, same
ROW_NUMBER (sim DESC, cell_id) tie-break, same empty-cell COALESCE
fallback) as SEPARATE statements, carrying only the scalar-scale
centroid table (C x dim doubles) between stages as exactly-round-
tripping literals (repr() doubles parse correctly rounded in DuckDB).
Each stage is one pass over embeddings into a <=C*dim-group hash agg
or one 20M-row window — no cross-stage materialization.

Checks:
  1. staged DuckDB centroids after 4 iterations vs Spark
     kmeans_centroids(init='mod', C=10, max_iter=4): componentwise
     |diff| <= 1e-12 (one quantum of the DECIMAL(20,12) input
     quantization). NOT bit-exact by contract: a double landing on an
     exact .5e-12 tie quantizes differently between Spark (BigDecimal
     HALF_UP) and DuckDB, shifting that cell's decimal SUM by 1e-12
     and its average by 1e-12/count — measured at sf0.01: exactly one
     component, 1.8e-14 with count~56, and verified to be
     Spark-vs-DuckDB (the staged replay reproduces the monolithic
     oracle's own c4 bit-exactly, 640/640 components). The registry
     oracle's comparison surface (4-dp-rounded top-10) absorbs this
     by design; at sf100 counts (~200k/cell) the shift is sub-ulp.
  2. staged DuckDB IVF top-10 (assign -> nprobe=2 probe -> cosine,
     4-dp floor-round) == the Spark registry query's rows, value-exact
     — the registry's actual comparison surface, held strictly.

Two-axis independence: DuckDB never sees a Spark-computed number —
stage N's input literals are DuckDB's own stage N-1 output.

Run AFTER the main sweep (never concurrently — shared disk/CPU).

Usage: python tools/sf100_ivf_trained_check.py [SF_DIR]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from queries._base import _t
from queries.similarity import _sim_sql
from tools.compare_oracle import oracle_connection

from kafka_firehose_nozzle_spark.session import get_spark

NUM_CELLS = 10
MAX_ITER = 4
DIM = 64

# the registry oracle's own reduction texts (_ivf_trained_oracle)
DAVG = (
    "CAST(CAST(SUM(CAST(val AS DECIMAL(20,12))) AS VARCHAR(64))"
    " AS DOUBLE) / COUNT(*)"
)
E_CTE = (
    "e AS (SELECT vec_id, list_transform(embedding, y -> CAST(y AS "
    "DOUBLE)) AS v FROM embeddings)"
)
EX_CTE = (
    "ex AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS "
    "val FROM e)"
)


def _dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(len({a})), "
        f"i -> {a}[i + 1] * {b}[i + 1]))"
    )


def _cent_values(cents: dict[int, list[float]]) -> str:
    """Centroids as a VALUES table of exactly-round-tripping literals.

    Each component rides as CAST('<repr>' AS DOUBLE): DuckDB types bare
    17-digit numeric literals as DECIMAL (whose arithmetic then
    overflows scale 38 in the norm, and whose DOUBLE cast double-
    rounds), while the string parse is correctly rounded — repr() round-
    trips, so the injected double is bit-identical to the stage output."""
    rows = ", ".join(
        "({}, [{}])".format(
            cid,
            ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec),
        )
        for cid, vec in sorted(cents.items())
    )
    return f"(VALUES {rows}) t(cell_id, centroid)"


def _rows_to_cents(rows, prev: dict[int, list[float]] | None) -> dict:
    """(cell_id, pos, c) stage output -> dense centroid dict, applying
    the oracle's empty-cell COALESCE fallback to the previous stage."""
    by_cell: dict[int, dict[int, float]] = {}
    for cell, pos, c in rows:
        by_cell.setdefault(int(cell), {})[int(pos)] = float(c)
    out = {}
    for cid in range(NUM_CELLS):
        if cid in by_cell:
            comp = by_cell[cid]
            out[cid] = [comp[p] for p in range(DIM)]
        else:
            assert prev is not None, f"init stage left cell {cid} empty"
            out[cid] = prev[cid]
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    t0 = time.time()
    con = oracle_connection(sf_dir)
    con.execute("SET memory_limit='48GB'")

    # stage 0: init centroids = mod-grouped decimal component averages
    rows = con.execute(
        f"WITH {E_CTE}, {EX_CTE} "
        f"SELECT cell_id, pos, {DAVG} AS c FROM ("
        f"SELECT vec_id % {NUM_CELLS} AS cell_id, pos, val FROM ex) "
        f"GROUP BY 1, 2"
    ).fetchall()
    cents = _rows_to_cents(rows, None)
    print(f"stage c0 done in {time.time() - t0:.1f}s", flush=True)

    # iterations: normalize -> assign (ROW_NUMBER tie-break) -> decimal
    # avg update, one statement per iteration, centroids as literals
    norm = "sqrt(list_sum(list_transform(centroid, y -> y * y)))"
    for i in range(1, MAX_ITER + 1):
        ti = time.time()
        rows = con.execute(
            f"WITH {E_CTE}, {EX_CTE}, "
            f"u AS (SELECT cell_id, list_transform(centroid, x -> x / "
            f"(CASE WHEN {norm} = 0 THEN 1.0 ELSE {norm} END)) AS uc "
            f"FROM {_cent_values(cents)}), "
            f"a AS (SELECT vec_id, cell_id FROM ("
            f"SELECT e.vec_id, u.cell_id, ROW_NUMBER() OVER ("
            f"PARTITION BY e.vec_id ORDER BY {_dot('e.v', 'u.uc')} DESC, "
            f"u.cell_id) AS rn FROM e CROSS JOIN u) r WHERE rn = 1) "
            f"SELECT a.cell_id, ex.pos, {DAVG} AS c "
            f"FROM ex JOIN a USING (vec_id) GROUP BY 1, 2"
        ).fetchall()
        cents = _rows_to_cents(rows, cents)
        print(f"stage c{i} done in {time.time() - ti:.1f}s", flush=True)

    # Spark side: trained centroids must be bit-equal
    spark = get_spark(
        "ivf-trained-check", extra_conf={"spark.sql.ansi.enabled": "true"}
    )
    from kafka_firehose_nozzle_spark.operators import similarity as S
    from kafka_firehose_nozzle_spark.session import configure_shuffle_for_input

    configure_shuffle_for_input(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    strained = {
        int(r["cell_id"]): [float(x) for x in r["centroid"]]
        for r in S.kmeans_centroids(
            emb, NUM_CELLS, max_iter=MAX_ITER, init="mod"
        ).collect()
    }
    max_diff = max(
        abs(x - y)
        for cid in range(NUM_CELLS)
        for x, y in zip(cents[cid], strained[cid])
    )
    cent_match = max_diff <= 1e-12  # one DECIMAL(20,12) quantum
    print(
        f"centroids: max componentwise |diff| = {max_diff:.3e} "
        f"(bit-equal: {strained == cents})",
        flush=True,
    )

    # final search: assign -> probes (nprobe=2) -> candidates -> top-10,
    # the oracle's own tail with c4 injected as literals
    sim = _sim_sql
    tail = con.execute(
        f"WITH {E_CTE}, "
        f"c AS (SELECT cell_id, centroid FROM {_cent_values(cents)}), "
        f"assign AS (SELECT vec_id, cell_id FROM ("
        f"SELECT e.vec_id, c.cell_id, ROW_NUMBER() OVER ("
        f"PARTITION BY e.vec_id ORDER BY "
        f"{sim('e.v', 'c.centroid')} DESC, c.cell_id) AS rn "
        f"FROM e CROSS JOIN c) r WHERE rn = 1), "
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = 0), "
        f"probes AS (SELECT cell_id FROM c CROSS JOIN q "
        f"ORDER BY {sim('centroid', 'qv')} DESC, cell_id LIMIT 2), "
        f"cand AS (SELECT e.vec_id, e.v FROM e "
        f"JOIN assign ON e.vec_id = assign.vec_id "
        f"WHERE assign.cell_id IN (SELECT cell_id FROM probes) "
        f"AND e.vec_id <> 0) "
        f"SELECT vec_id, (FLOOR(({sim('v', 'qv')}) * 10000.0 + 0.5) "
        f"/ 10000.0) AS cos_sim "
        f"FROM cand CROSS JOIN q "
        f"ORDER BY {sim('v', 'qv')} DESC, vec_id LIMIT 10"
    ).fetchall()
    oracle_top = [(int(v), float(c)) for v, c in tail]

    got = entrymod.queries()["ivf_trained_topk"](spark, sf_dir).collect()
    spark_top = [(int(r[0]), float(r[1])) for r in got]
    top_match = spark_top == oracle_top
    ok = cent_match and top_match
    print(json.dumps({
        "query": "ivf_trained_topk",
        "sf_dir": sf_dir,
        "centroids_within_quantum": cent_match,
        "centroids_max_component_diff": max_diff,
        "top10_value_equal": top_match,
        "spark_top10": spark_top,
        "oracle_top10": oracle_top,
        "match": ok,
        "elapsed_sec": round(time.time() - t0, 1),
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
