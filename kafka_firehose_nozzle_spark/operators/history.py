"""Type-2 slowly-changing-dimension (SCD2) history from an event log.

Turns an append-only event stream into versioned dimension rows: one row
per (key, attribute-value run) carrying [valid_from, valid_to) bounds, a
version number, and an is_current flag — the standard warehouse shape for
"what was this entity's attribute at time T" joins (which then run as
as-of joins; see operators/asof.py).

Scale shape: ONE hash shuffle on the entity key.  Both window passes
(change detection, then period numbering/closing) partition by the same
key with compatible orderings, so Catalyst reuses a single Exchange+Sort
— asserted in tests/test_plan_shapes.py.  No self-join, no driver
materialization; state per key is a single lag/lead register, so skew is
bounded by the busiest entity's event count, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_changelog(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    tombstone,
) -> DataFrame:
    """Changelog compaction (CDC apply / compacted-topic semantics):
    keep each key's LATEST row by (ts, tiebreak), and drop the key
    entirely when that latest row is a tombstone — the merge that turns
    an append-only change stream back into current state.

    One hash shuffle on the key; per-key state is a single row_number
    register, so a hot key costs sort time, never memory.  ``tombstone``
    is a Column predicate evaluated on the surviving row only."""
    w = Window.partitionBy(key_col).orderBy(
        F.desc(ts_col), F.desc(tiebreak_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~tombstone)
        .drop("_rn")
    )


def scd2_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Collapse consecutive equal ``attr_col`` runs per ``key_col`` into
    SCD2 periods.

    A run opens at its first event's timestamp and closes at the opening
    timestamp of the NEXT run (half-open interval); the last run has
    valid_to NULL and is_current true.  ``tiebreak_col`` makes ordering
    total when timestamps collide, so the output is deterministic.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(F.col(attr_col)).over(w)
    changed = prev.isNull() | (prev != F.col(attr_col))
    starts = (
        df.withColumn("_chg", changed)
        .filter(F.col("_chg"))
        .select(
            key_col,
            attr_col,
            F.col(ts_col).alias("valid_from"),
            F.col(tiebreak_col).alias("_tb"),
        )
    )
    w2 = Window.partitionBy(key_col).orderBy("valid_from", "_tb")
    return (
        starts.withColumn("version", F.row_number().over(w2))
        .withColumn("valid_to", F.lead("valid_from").over(w2))
        .select(
            key_col,
            attr_col,
            "valid_from",
            "valid_to",
            "version",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def merge_upsert(
    target: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """MERGE INTO semantics without a table format: rows from
    ``updates`` replace same-key rows in ``target`` (matched -> update),
    new keys insert, unmatched target rows carry over. Column sets must
    match.

    ``updates`` must be key-unique — the same precondition ANSI MERGE
    enforces (it errors when multiple source rows match one target row);
    with duplicate update keys the survivor among them is
    tie-broken arbitrarily.

    One unionByName + one per-key window shuffle — the update side wins
    via a priority column, so the merge costs a single Exchange however
    large the target is (the two-pass anti-join formulation reads the
    target twice). At 100 TB: bucket both sides by the key so the
    window runs shuffle-free, or push this into the lake's MERGE when a
    table format is present — this operator is the engine-level
    equivalent for raw parquet tables."""
    t = target.withColumn("_prio", F.lit(1))
    u = updates.withColumn("_prio", F.lit(0))
    w = Window.partitionBy(key).orderBy("_prio")
    return (
        t.unionByName(u)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )
