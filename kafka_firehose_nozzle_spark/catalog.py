"""SQL surface: register the lake tables as temp views.

A user of the reference interacts through config + a binary; a user of
this engine may prefer ``spark.sql`` over the DataFrame API.  This
module is that front door: one call registers every known table of an
sf directory as a temporary view (names match the DuckDB oracle's —
``region nation customer supplier part orders lineitem events
documents embeddings``), so any ANSI query — including the oracle SQL
strings in ``queries.relational`` — runs directly via ``spark.sql(...)``.

Views are metadata only: registering ten tables costs ten parquet
footer reads, no data scan; Catalyst still pushes filters/prunes
columns through a view exactly as through ``spark.read.parquet``.

This module owns the testdata's one physical quirk so SQL users never
see it: the driver's parquet carries TIMESTAMP(NANOS), which Spark
reads as int64 under ``nanosAsLong``; the known timestamp columns are
derived back to TimestampType (micros — exact for this data) before
the view is created.
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
    TIMESTAMP(NANOS) parquet (round-5 ADVICE; ``sinks/lake.py`` already
    uses this save/restore pattern)."""
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


def register_tables(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Create/replace one temp view per table of ``sf_dir``; returns the
    view names.  ``prefix`` namespaces them (e.g. two SFs side by
    side: ``register_tables(spark, sf1_dir, prefix="sf1_")``)."""
    names = []
    for t in TABLES:
        name = f"{prefix}{t}"
        read_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names
