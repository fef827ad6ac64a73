"""Engine-build-independent float emission helpers.

The round-4 postmortem of the only recurring correctness failure
(props_json_stats / source_doc_profile, driver-red for three rounds):
``ROUND(double, k)`` is NOT a deterministic function of the double —
Spark rounds through the BigDecimal of the shortest decimal
representation (half-up), while DuckDB's double rounding has changed
across releases, so two engines (or two builds of one engine) can emit
different values for the SAME input double.  Any query that emits a
rounded double is betting every one of its values misses the
implementations' disagreement zone.

``det_round`` quantizes with pure IEEE arithmetic instead::

    floor(x * 10^k + 0.5) / 10^k

Multiply, add, floor, and divide are all exactly specified by IEEE 754
and executed in hardware identically everywhere, so identical input
doubles produce identical output doubles on every engine and build.
The tie-break direction differs from ROUND for some negatives
(half-toward-+inf vs half-away-from-zero) and for doubles sitting
within an ulp of a decimal boundary the chosen digit may differ from
decimal-string rounding — irrelevant here: the contract is
*determinism of the emitted value*, with both engines running the same
formula (``det_round_sql`` is the oracle-side twin).

For averages of integer or exact-decimal sums, prefer exact integer
micro-units (``queries._base._avg_micro_expr``) — no double is even
produced until the final exact int->double cast.  det_round is for
values that are irreducibly double (cosines, log-probabilities,
ratios) but bit-identical across engines by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def det_round(c: Column, k: int) -> Column:
    """floor(c * 10^k + 0.5) / 10^k — see module docstring."""
    p = float(10**k)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)


def det_round_sql(expr: str, k: int) -> str:
    """DuckDB twin of det_round; inline into oracle SQL."""
    p = float(10**k)
    return f"(FLOOR(({expr}) * {p!r} + 0.5) / {p!r})"
