"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
north-star batch analytics (dedup / similarity / text analysis), each with a
DuckDB oracle in ``oracle_sql()``. The queries live in the ``queries``
package, one module per family; each registers itself where it is defined.

Two query styles:
- shared-SQL: one ANSI string executed by BOTH engines (Spark temp views /
  DuckDB) — Catalyst plans the Spark side; the string doubles as the oracle.
- DataFrame-native: the engine's real operators (routing pipeline, MinHash,
  cosine top-k...) with a hand-written DuckDB-equivalent oracle. Hashing is
  md5-derived on both sides so signatures match bit-for-bit.

Double-typed outputs are computed via exact decimal sums cast to double (or
identical IEEE fold orders) so value hashes agree across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from queries import REGISTRY


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items()}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's routing pipeline over the sf0.001 event
    stream, aggregated per destination topic."""
    return REGISTRY["route_topics"][0](spark, "/root/testdata/sf0.001")
