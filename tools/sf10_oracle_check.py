"""Oracle-check the scale-critical dup/graph family at /tmp/sf10.

VERDICT r7 item 2: the round-7 scale fixes (bucket-star component
edges, value-space simhash histograms, sort-merge pins, the moment
rewrite) carry equality pins at sf0.01/sf0.1 but were never
answer-checked in the giant-clique regime (~2,600-doc LSH buckets)
that motivated them.  This tool runs that check once.

Two paths:

- DIRECT: queries whose registry oracle SQL is feasible at sf10 run
  through the driver-identical strict comparator
  (tools/compare_oracle.compare_query), exactly like the sf1 sweep.

- UNION-FIND: the four connected-components consumers
  (lsh_dup_components, dedup_corpus, dedup_keep_best,
  dup_cluster_sizes).  Their registry oracle is a recursive-CTE
  transitive closure, which materializes |clique|^2 reach rows per
  clique — ~10^9 at sf10's 2,600-doc cliques, infeasible in any
  engine.  Instead, DuckDB recomputes the LSH BUCKETS from scratch
  (the registry's own _ORACLE_LSH_CAND text, truncated before the
  pairwise cand join), and a plain-Python disjoint-set union over the
  bucket memberships labels every co-bucketed doc with its component
  minimum.  That is an independent implementation on BOTH axes that
  matter: the signatures/buckets come from DuckDB SQL (not Spark), and
  the components come from array DSU (not star contraction).  The four
  query outputs are then derived in pandas from the one labeling and
  compared value-exact (tools/compare_oracle.canon) against Spark's
  sf10 results.

Usage: python tools/sf10_oracle_check.py [SF_DIR] [name ...]
Prints one PASS/FAIL line per query + a JSON summary; results land in
SCALE.md by hand.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

import pandas as pd

import __spark_entry__ as entrymod
from queries.dedup import _ORACLE_LSH_CAND
from tools.compare_oracle import canon, compare_query, oracle_connection

from kafka_firehose_nozzle_spark.session import get_spark

# Feasible-at-sf10 registry oracles (output + intermediate volumes
# checked against the r7 rows-only sf10 run). lsh_planted_dups /
# jaccard_planted_dups are EXCLUDED: their exact output is the clique
# pair set itself (171 M / 109 M rows) — comparing it is infeasible
# not because of the engines but because the answer is that large;
# their sf1 passes (5 M-row outputs, same code path) are the deepest
# practical check.
DIRECT = [
    "simhash_fingerprints",
    "simhash_near_pairs",
    "benchmark_decontam",
    "graph_assortativity",
    "asof_purchase_orders",
    "asof_next_order",
    "asof_nearest_order",
    "embedding_dup_pairs",
]
UNION_FIND = [
    "lsh_dup_components",
    "dedup_corpus",
    "dedup_keep_best",
    "dup_cluster_sizes",
]

_BUCKET_SQL_TAIL = """
    SELECT band_ix, band_hash, doc_id FROM bands
    ORDER BY band_ix, band_hash, doc_id
"""
_DOCS_SQL_TAIL = "SELECT doc_id, length(text) AS n_chars FROM docs2"


def _bucket_prefix_sql() -> str:
    """The registry's own LSH oracle text, truncated before the
    pairwise cand join (which is what's quadratic)."""
    sql = _ORACLE_LSH_CAND
    cut = sql.index(",\n    cand AS")
    return sql[:cut]


def _dsu_components(con) -> pd.DataFrame:
    """(doc_id, component_id) for every doc sharing >= 1 LSH bucket
    with another doc — component_id = min doc_id of the component.
    Plain array DSU over DuckDB-computed bucket memberships."""
    rows = con.execute(_bucket_prefix_sql() + _BUCKET_SQL_TAIL).fetchnumpy()
    import numpy as np

    band_ix = rows["band_ix"]
    band_hash = rows["band_hash"]
    doc_id = rows["doc_id"]
    uniq, dense = np.unique(doc_id, return_inverse=True)
    parent = list(range(len(uniq)))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    in_pair_bucket = [False] * len(uniq)
    n = len(doc_id)
    i = 0
    while i < n:
        j = i + 1
        while (
            j < n
            and band_ix[j] == band_ix[i]
            and band_hash[j] == band_hash[i]
        ):
            j += 1
        if j - i >= 2:  # bucket with >= 2 docs: union all to the first
            a = find(int(dense[i]))
            in_pair_bucket[a] = True
            for k in range(i + 1, j):
                b = find(int(dense[k]))
                in_pair_bucket[b] = True
                if a != b:
                    # union by smaller doc_id so roots track minimums
                    if uniq[a] <= uniq[b]:
                        parent[b] = a
                        in_pair_bucket[a] = in_pair_bucket[a] or in_pair_bucket[b]
                    else:
                        parent[a] = b
                        in_pair_bucket[b] = in_pair_bucket[b] or in_pair_bucket[a]
                        a = b
        i = j
    out_doc, out_comp = [], []
    for d in range(len(uniq)):
        if in_pair_bucket[find(d)]:
            out_doc.append(int(uniq[d]))
            out_comp.append(int(uniq[find(d)]))
    return pd.DataFrame({"doc_id": out_doc, "component_id": out_comp})


def _derive(name: str, comp: pd.DataFrame, docs: pd.DataFrame) -> pd.DataFrame:
    """Replay each consumer's definition in pandas from the labeling."""
    if name == "lsh_dup_components":
        return comp
    if name == "dedup_corpus":
        drop = set(comp.loc[comp.component_id != comp.doc_id, "doc_id"])
        return docs.loc[~docs.doc_id.isin(drop), ["doc_id"]]
    if name == "dedup_keep_best":
        sized = comp.merge(docs, on="doc_id")
        sized = sized.sort_values(
            ["component_id", "n_chars", "doc_id"],
            ascending=[True, False, True],
        )
        first = sized.groupby("component_id").head(1)
        out = (
            sized.groupby("component_id")
            .size()
            .rename("n_members")
            .reset_index()
            .merge(
                first[["component_id", "doc_id"]].rename(
                    columns={"doc_id": "canonical_id"}
                ),
                on="component_id",
            )
        )
        return out[["component_id", "n_members", "canonical_id"]]
    if name == "dup_cluster_sizes":
        sizes = comp.groupby("component_id").size().rename("size")
        hist = sizes[sizes >= 2].value_counts().rename("n_clusters")
        return hist.reset_index().rename(columns={"index": "size"})
    raise KeyError(name)


def _compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:  # dtype lenient: DSU emits python ints
        return f"values differ: {str(e)[:400]}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    only = set(sys.argv[2:]) or None
    spark = get_spark(
        "sf10-check", extra_conf={"spark.sql.ansi.enabled": "true"}
    )
    con = oracle_connection(sf_dir)
    qs = entrymod.queries()
    results: dict[str, str | None] = {}
    t0 = time.time()
    for name in DIRECT:
        if only and name not in only:
            continue
        t = time.time()
        err = compare_query(spark, con, sf_dir, name)
        print(
            f"DIRECT {name} {time.time() - t:.1f}s "
            + ("PASS" if err is None else f"FAIL {err}"),
            flush=True,
        )
        results[name] = err
    uf = [n for n in UNION_FIND if not only or n in only]
    if uf:
        t = time.time()
        comp = _dsu_components(con)
        docs = con.execute(_bucket_prefix_sql() + _DOCS_SQL_TAIL).df()
        print(
            f"DSU oracle: {len(comp)} labeled docs, "
            f"{comp.component_id.nunique()} components "
            f"({time.time() - t:.1f}s)",
            flush=True,
        )
        for name in uf:
            t = time.time()
            try:
                got = qs[name](spark, sf_dir).toPandas()
                err = _compare_frames(got, _derive(name, comp, docs))
            except Exception as e:
                err = f"{type(e).__name__}: {str(e)[:300]}"
            print(
                f"UNION_FIND {name} {time.time() - t:.1f}s "
                + ("PASS" if err is None else f"FAIL {err}"),
                flush=True,
            )
            results[name] = err
    failures = {k: v for k, v in results.items() if v}
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "total": len(results),
                "n_fail": len(failures),
                "failed": failures,
                "elapsed_sec": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
