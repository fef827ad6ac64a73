"""The lake tables of an sf directory: their names and one typed read.

``TABLES`` lists the tables (names match the DuckDB oracle's —
``region nation customer supplier part orders lineitem events
documents embeddings``); the query registry reads each one through
:func:`read_table`.

This module owns the testdata's one physical quirk so queries never
see it: the driver's parquet carries TIMESTAMP(NANOS), which Spark
reads as int64 under ``nanosAsLong``; the known timestamp columns are
derived back to TimestampType (micros — exact for this data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# columns stored as TIMESTAMP(NANOS) in the testdata parquet
_TS_COLS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table of ``sf_dir`` with timestamp columns properly typed.

    ``nanosAsLong`` is needed only while ``spark.read.parquet`` converts
    the footer schema (verified: the returned DataFrame keeps its
    analyzed schema through later actions), so the prior session value
    is restored on exit — a bare ``conf.set`` here would permanently
    flip how UNRELATED reads in the same session interpret
    TIMESTAMP(NANOS) parquet (round-5 ADVICE)."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    for c in _TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    return df

