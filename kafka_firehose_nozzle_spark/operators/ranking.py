"""Preference ranking — Bradley-Terry strengths from pairwise duels.

The LLM-pipeline use case is reward-model / preference-data curation:
given pairwise comparisons (human A/B votes, win/loss records between
generators, or any "x beat y" event stream), fit a per-item strength
so items are globally rankable and inconsistent voters are visible.

Architecture note (the 100 TB shape): the corpus-scale work — producing
and aggregating the duel matrix — is a distributed groupBy that
partial-combines to ITEM-PAIR cardinality.  The MM fixed-point itself
runs on that bounded matrix (items are a dim attribute: brands,
model names, annotator cohorts — never row-scale), so the driver-side
solve is a bounded collect by construction, same class as the BPE
top-1 / IVF-centroid collects elsewhere in this repo.

The solver is EXACT integer arithmetic (micro fixed-point, floor
division) so a DuckDB oracle can replay it term for term:

    term(x,y) = n_xy * 10^12 // (s_x + s_y)        [s in micro-units]
    s'_x      = W_x * 10^12 // sum_y term(x,y)
    s''_x     = s'_x * (B * 10^6) // sum_x s'_x    [renormalize]

with add-one smoothing (one synthetic win per ordered pair) so every
item has at least one win and one loss — the standard MM convergence
precondition (Hunter 2004, "MM algorithms for generalized
Bradley-Terry models", public).  Reference parity: the reference
(kafka-firehose-nozzle) has no ranking op; this is north-star
LLM-pipeline surface per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 10**6
_TERM_SCALE = 10**12


def duel_matrix(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    score_col: str,
    order_col: str,
) -> DataFrame:
    """(winner, loser, w) duel counts from within-group score contests.

    Every pair of rows sharing ``group_cols`` with distinct items and
    strictly different scores is one duel; the higher score wins.
    ``order_col`` must be a DETERMINISTIC within-group ordinal (e.g.
    l_linenumber) — it dedups the pair (a,b)/(b,a) reflection, and
    being data-carried (never monotonically_increasing_id) keeps the
    duel matrix replayable by the SQL oracle.  Equi-join on the group
    key (SortMergeJoin — never cartesian); the per-group pair blowup
    is bounded by rows-per-group (7 lineitems per order in TPC-H),
    and the output partial-aggregates down to item-pair cardinality.
    """
    sel = df.select(
        *group_cols,
        F.col(item_col).alias("item"),
        F.col(score_col).alias("score"),
        F.col(order_col).alias("_ord"),
    )
    a, b = sel.alias("a"), sel.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in group_cols]
    pairs = (
        a.join(b, cond)
        .filter(F.col("a._ord") < F.col("b._ord"))
        .filter(F.col("a.item") != F.col("b.item"))
        .filter(F.col("a.score") != F.col("b.score"))
    )
    win = F.col("a.score") > F.col("b.score")
    return (
        pairs.select(
            F.when(win, F.col("a.item")).otherwise(F.col("b.item")).alias(
                "winner"
            ),
            F.when(win, F.col("b.item")).otherwise(F.col("a.item")).alias(
                "loser"
            ),
        )
        .groupBy("winner", "loser")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def bradley_terry_micro(
    items: list[str],
    obs_wins: dict[tuple[str, str], int],
    iters: int = 3,
) -> dict[str, int]:
    """Exact-integer Bradley-Terry MM: item -> strength in micro-units.

    Pure Python over the bounded duel matrix (arbitrary-precision ints,
    so no overflow at any count scale); every division is floor
    division on positive operands, which DuckDB's ``//`` replays
    exactly — the oracle-parity contract.
    """
    if not items:
        return {}
    b = len(items)
    w = {
        (x, y): 1 + obs_wins.get((x, y), 0)
        for x in items
        for y in items
        if x != y
    }
    big_w = {x: sum(w[(x, y)] for y in items if y != x) for x in items}
    n = {(x, y): w[(x, y)] + w[(y, x)] for (x, y) in w}
    s = {x: MICRO for x in items}
    for _ in range(iters):
        denom = {
            x: sum(
                n[(x, y)] * _TERM_SCALE // (s[x] + s[y])
                for y in items
                if y != x
            )
            for x in items
        }
        sp = {x: big_w[x] * _TERM_SCALE // denom[x] for x in items}
        tot = sum(sp.values())
        s = {x: sp[x] * (b * MICRO) // tot for x in items}
    return s
