"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

At 100 TB a single sort key only prunes scans on ONE predicate column;
queries filtering on a second dimension read everything.  Interleaving
the bits of two (or more) rank-normalized columns gives a space-filling
curve: sorting the corpus by the interleaved key co-locates rows that
are close in EVERY dimension, so parquet row-group min/max stats stay
narrow per dimension and data skipping works for filters on any of the
interleaved columns (the Z-ORDER layout Delta/Iceberg expose, built
here from first principles as pure integer expressions).

Deployment shape: ``df.repartitionByRange(zkey).sortWithinPartitions
(zkey).write.parquet(...)`` — one range shuffle at write time buys
multi-dimensional skipping on every subsequent read.  Everything below
is BIGINT shifts/masks inside whole-stage codegen: no UDF, no shuffle,
and bit-for-bit replayable by an ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _floor_div(num: Column, den: Column) -> Column:
    # inputs are non-negative here, so CAST-truncation == floor in both
    # engines; spelled once so the oracle fragment mirrors it exactly
    return (num / den).cast("bigint")


def zorder_key2(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative BIGINTs:
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1.
    Expanded as a flat OR-chain of shift/mask terms — constant-folded,
    codegen'd, zero shuffle."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def zorder_key2_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB twin of zorder_key2 (same shift/mask OR-chain)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({a} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({b} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def scaled_zorder2(
    a: Column,
    a_lo: Column,
    a_hi: Column,
    b: Column,
    b_lo: Column,
    b_hi: Column,
    bits: int = 16,
) -> Column:
    """minmax-scale both dimensions then interleave.  The scale step's
    division truncates (non-negative operands), matching the SQL
    oracle's ``//``."""
    sa = _floor_div(
        (a - a_lo).cast("bigint") * F.lit((1 << bits) - 1),
        F.greatest(a_hi - a_lo, F.lit(1)).cast("bigint"),
    )
    sb = _floor_div(
        (b - b_lo).cast("bigint") * F.lit((1 << bits) - 1),
        F.greatest(b_hi - b_lo, F.lit(1)).cast("bigint"),
    )
    return zorder_key2(sa, sb, bits)


def hilbert_stages(df, x: str, y: str, out: str = "hkey", bits: int = 5):
    """Hilbert-curve index of two non-negative ints already scaled to
    [0, 2^bits) — the locality upgrade over :func:`zorder_key2`: the
    Hilbert curve never makes the long diagonal jumps Morton order
    does, so per-file min/max spans stay narrower for the same data
    (public algorithm: the classic xy2d iteration, e.g. Wikipedia
    'Hilbert curve'; quadrant = 3*rx + ry - 2*rx*ry is the arithmetic
    form of (3*rx) XOR ry for bits, identical in both engines).

    Each of the ``bits`` iterations lands in its OWN projection
    (chained ``select``) — the rotation step references x and y
    multiple times, so a single inlined expression would grow 4^bits
    nodes; staged columns keep the plan linear.  Pure integer
    arithmetic, no UDF, no shuffle."""
    cur = df.withColumn("_hx", F.col(x).cast("bigint")).withColumn(
        "_hy", F.col(y).cast("bigint")
    ).withColumn(out, F.lit(0).cast("bigint"))
    for step in range(bits - 1, -1, -1):
        s = 1 << step
        rx = F.when((F.col("_hx").bitwiseAND(F.lit(s))) > 0, 1).otherwise(0)
        ry = F.when((F.col("_hy").bitwiseAND(F.lit(s))) > 0, 1).otherwise(0)
        keep = [
            c for c in cur.columns if c not in ("_hx", "_hy", out, "_rx", "_ry")
        ]
        cur = cur.select(
            *keep, "_hx", "_hy", out, rx.alias("_rx"), ry.alias("_ry")
        )
        quad = (
            F.lit(3) * F.col("_rx")
            + F.col("_ry")
            - F.lit(2) * F.col("_rx") * F.col("_ry")
        )
        new_x = F.when(F.col("_ry") == 1, F.col("_hx")).otherwise(
            F.when(F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy")).otherwise(
                F.col("_hy")
            )
        )
        new_y = F.when(F.col("_ry") == 1, F.col("_hy")).otherwise(
            F.when(F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx")).otherwise(
                F.col("_hx")
            )
        )
        cur = cur.select(
            *keep,
            new_x.alias("_hx"),
            new_y.alias("_hy"),
            (F.col(out) + F.lit(s * s) * quad).alias(out),
        )
    return cur.drop("_hx", "_hy")


def hilbert_oracle_ctes(x: str, y: str, bits: int = 5) -> str:
    """DuckDB twin of :func:`hilbert_stages`: chained CTE stages
    h{k} (same linear staging), starting from columns ``{x}, {y}``
    of a CTE named h_in that must also carry every passthrough column
    as-is.  The final stage is named h_out with column hkey."""
    stages = []
    prev = "h_in"
    d_expr = "CAST(0 AS BIGINT)"
    cx, cy = x, y
    for k, step in enumerate(range(bits - 1, -1, -1)):
        s = 1 << step
        rx = f"(CASE WHEN ({cx} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({cy} & {s}) > 0 THEN 1 ELSE 0 END)"
        name = f"h{k}"
        stages.append(
            f"{name} AS (SELECT *,"
            f" {rx} AS rx{k}, {ry} AS ry{k},"
            f" {d_expr} + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
            f" AS d{k},"
            f" CASE WHEN {ry} = 1 THEN {cx}"
            f" ELSE CASE WHEN {rx} = 1 THEN {s - 1} - ({cy})"
            f" ELSE {cy} END END AS x{k},"
            f" CASE WHEN {ry} = 1 THEN {cy}"
            f" ELSE CASE WHEN {rx} = 1 THEN {s - 1} - ({cx})"
            f" ELSE {cx} END END AS y{k}"
            f" FROM {prev})"
        )
        prev = name
        cx, cy, d_expr = f"x{k}", f"y{k}", f"d{k}"
    stages.append(
        f"h_out AS (SELECT *, CAST({d_expr} AS BIGINT) AS hkey FROM {prev})"
    )
    return ",\n    ".join(stages)
