"""Local replica of the driver's t2 correctness check: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB, compare
row-count + schema + order-insensitive values.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
       python tools/compare_oracle.py --dump QUERY [sf_dir]

``--dump`` prints engine versions and ``repr()`` of every float cell from
both engines side by side (canonical row order), so a hash-fail seen only
in the driver's environment can be diagnosed from the committed artifact
instead of guessed at.

Also importable: tests/test_oracle_full.py runs the full registry through
``compare_all`` as a slow test so driver-unchecked queries can't rot.
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from queries._base import TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for cross-engine comparison.

    Two DOCUMENTED dtype coercions are applied before the strict dtype
    check — both empirically tolerated by the driver's value hash
    (driver-green queries exhibit them: ``zorder_layout`` was green with
    spark int32 vs duckdb int64, ``sliding_window_rates``/``scd2`` green
    with datetime64[ns] vs datetime64[us]):

    - any integer width -> int64 (repr is width-independent: 5 is 5);
    - any datetime unit -> datetime64[ns] (Spark toPandas always emits
      ns, duckdb .df() always us — not expressible in the SQL text).

    int-vs-float is deliberately NOT coerced: DuckDB HUGEINT emissions
    arrive as float64 (5.0 vs 5) and that representation skew is exactly
    what hash-failed five driver queries in rounds 1-4."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind in "iu" and str(df[c].dtype) != "int64":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "M" and str(df[c].dtype) != "datetime64[ns]":
            df[c] = df[c].astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table, normalized to the
    driver-testdata schema the oracle SQL is written against.

    The driver's parquet surfaces ts/l_shipdate/o_orderdate as
    TIMESTAMP in DuckDB; dirs produced by tools/make_scaled_sf.py store
    them as BIGINT epoch-nanos.  The Spark side already normalizes via
    catalog.read_table (timestamp_micros(c div 1000)); this applies the
    IDENTICAL derivation DuckDB-side so the same oracle SQL runs
    against both layouts (the r8 sf1 sweep tripped over this on
    sliding_window_rates/scd2_user_history/changelog_compact)."""
    from kafka_firehose_nozzle_spark.catalog import _TS_COLS

    con = duckdb.connect()
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        replaces = []
        for c in _TS_COLS.get(t, []):
            row = con.execute(
                f"SELECT typeof({c}) FROM '{src}' LIMIT 1"
            ).fetchone()
            if row and row[0] == "BIGINT":
                replaces.append(f"make_timestamp({c} // 1000) AS {c}")
        sel = (
            f"SELECT * REPLACE ({', '.join(replaces)})"
            if replaces
            else "SELECT *"
        )
        con.execute(f"CREATE VIEW {t} AS {sel} FROM '{src}'")
    return con


def compare_query(spark, con, sf_dir: str, name: str) -> str | None:
    """Run one registry query on both engines; None on match, else a
    human-readable failure description."""
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    try:
        got = qs[name](spark, sf_dir).toPandas()
    except Exception as e:
        return f"spark error {type(e).__name__}: {str(e)[:300]}"
    if name not in oracles:
        return None  # rows-only query: driver applies the weaker check
    try:
        want = con.execute(oracles[name]).df()
    except Exception as e:
        return f"duckdb error {str(e)[:300]}"
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    # Strict dtype check FIRST: the driver's value hash is
    # dtype/representation-sensitive, so a DuckDB HUGEINT emitted as
    # float64 vs Spark's int64 hash-fails even when every value is equal.
    # check_dtype=False masked exactly that for four rounds (VERDICT r4).
    bad = [
        f"{c}: spark={g[c].dtype} duckdb={w[c].dtype}"
        for c in g.columns
        if g[c].dtype != w[c].dtype
    ]
    if bad:
        return f"dtype skew: {'; '.join(bad)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e)[:400]}"
    return None


def compare_all(spark, sf_dir: str, only: set[str] | None = None) -> dict[str, str]:
    """Run every registry query; return {name: failure} (empty = all pass)."""
    con = oracle_connection(sf_dir)
    failures: dict[str, str] = {}
    for name in entrymod.queries():
        if only and name not in only:
            continue
        err = compare_query(spark, con, sf_dir, name)
        if err is not None:
            failures[name] = err
    return failures


def dump_query(spark, sf_dir: str, name: str) -> None:
    """Print per-cell reprs of the Spark and DuckDB results for one query
    (float columns only — the cells a hasher could disagree on)."""
    import pyspark

    print(f"# dump {name} at {sf_dir}")
    print(f"# pyspark {pyspark.__version__}  duckdb {duckdb.__version__}  "
          f"pandas {pd.__version__}  python {sys.version.split()[0]}")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = oracle_connection(sf_dir)
    got = canon(qs[name](spark, sf_dir).toPandas())
    if name not in oracles:
        print("# no oracle SQL registered (rows-only query)")
        want = None
    else:
        want = canon(con.execute(oracles[name]).df())
    float_cols = [c for c in got.columns if got[c].dtype.kind == "f"]
    print(f"# float columns: {float_cols or '(none)'}")
    for i in range(len(got)):
        for c in float_cols:
            s = got[c].iloc[i]
            w = want[c].iloc[i] if want is not None and c in want else None
            mark = "" if (w is None or repr(s) == repr(w)) else "   <-- DIFF"
            print(f"row {i} {c}: spark={s!r} duckdb={w!r}{mark}")


def main() -> int:
    from kafka_firehose_nozzle_spark.session import get_spark

    if len(sys.argv) > 2 and sys.argv[1] == "--dump":
        name = sys.argv[2]
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        dump_query(get_spark("oracle-dump", 8), sf_dir, name)
        return 0

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    spark = get_spark("oracle-compare", 8)
    con = oracle_connection(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    n_run = 0
    for name in qs:
        if only and name not in only:
            continue
        n_run += 1
        err = compare_query(spark, con, sf_dir, name)
        if err is not None:
            print(f"FAIL {name}: {err}")
            failed.append(name)
        elif name not in oracles:
            print(f"OK?  {name}: rows-only (no oracle)")
        else:
            print(f"PASS {name}")
    print(f"\n{n_run - len(failed)}/{n_run} PASS; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
