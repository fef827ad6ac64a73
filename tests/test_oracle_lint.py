"""Registry guard: no oracle may EMIT a version-sensitive type.

Four rounds of driver hash-fails traced to one mechanism (VERDICT r4):
DuckDB types ``SUM(integer)`` as HUGEINT (int128); ``.df()`` converts
HUGEINT to pandas float64, while the Spark side emits int64.  The
driver's value hash is representation-sensitive (``5.0`` vs ``5``), so
every oracle whose FINAL projection contains an uncast integer
aggregate ships driver-red — invisibly, when the local comparator ran
with ``check_dtype=False``.

This lint closes the class at the source: it executes every registered
oracle against DuckDB on the sf0.001 tables and asserts, from DuckDB's
OWN result-type metadata (pre-pandas, so no conversion can mask it),
that no emitted column is HUGEINT/UHUGEINT.  A second check pins the
other rendering-sensitivity class seen to date: no oracle text may
stringify a float aggregate (``CAST(MIN/MAX/SUM/AVG(...) AS VARCHAR)``
— DuckDB's float-to-string rendering changed across builds; emit
DOUBLE and let the comparator hash bits, not glyphs).

The strict dtype comparison in tools/compare_oracle.py (run over the
full registry by tests/test_oracle_full.py) is the end-to-end guard;
this one is the fast, Spark-free unit that names the offending oracle
and column directly.
"""

from __future__ import annotations

import re
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from queries._base import TABLES

SF_DIR = "/root/testdata/sf0.001"

# HUGEINT: pandas renders it float64 vs Spark's int64 (the r1-r4 red
# class).  DuckDB DATE is NOT banned: .df() renders it datetime64[us],
# which the comparator's unit coercion aligns (order_date_parts is
# green that way).  The un-coercible direction is a SPARK DateType
# emission (pandas objects) — DuckDB-side metadata can't see it; the
# strict dtype comparator in tests/test_oracle_full.py catches it
# (see peak_concurrency, which emits ISO strings for that reason).
BANNED_TYPES = {"HUGEINT", "UHUGEINT"}

# CAST(<agg>(...) AS VARCHAR) where the aggregate runs over a float
# column is renderer-version-sensitive.  DECIMAL sums stringified via
# VARCHAR (the content_sig idiom) are exact-integer renders and fine,
# so the pattern targets MIN/MAX/AVG directly.
STRINGIFIED_FLOAT_AGG = re.compile(
    r"CAST\s*\(\s*(MIN|MAX|AVG)\s*\((?:[^()]|\([^()]*\))*\)\s*AS\s+VARCHAR",
    re.IGNORECASE,
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return c


def _all_oracles() -> dict[str, str]:
    return dict(entrymod.oracle_sql())


def test_no_oracle_emits_hugeint(con):
    offenders = []
    for name, sql in _all_oracles().items():
        res = con.sql(sql)
        for col, typ in zip(res.columns, res.types):
            if str(typ).upper() in BANNED_TYPES:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracles emit HUGEINT (pandas renders it float64, Spark emits "
        "int64, driver hash fails) — wrap in CAST(... AS BIGINT): "
        + "; ".join(offenders)
    )


def test_no_oracle_stringifies_float_aggregate():
    offenders = []
    for name, sql in _all_oracles().items():
        m = STRINGIFIED_FLOAT_AGG.search(sql)
        if m:
            # allow only when the aggregate's argument is the one known
            # string column family (flags/names); anything else must
            # justify itself here.
            ctx = sql[m.start() : m.start() + 120]
            if re.search(
                r"(l_returnflag|[a-z_]*name|lang|source)", ctx
            ):
                continue
            offenders.append(f"{name}: ...{ctx[:80]}...")
    assert not offenders, (
        "oracle stringifies a numeric aggregate (float-to-string "
        "rendering is DuckDB-build-sensitive — emit DOUBLE instead): "
        + "; ".join(offenders)
    )
