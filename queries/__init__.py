"""The oracle-checked query registry behind ``__spark_entry__``.

One module per query family, named after the operator module its queries
exercise. Each query registers itself where it is defined, with
``@query(ORACLE_SQL)`` from ``_base``; importing this package imports
every family, so ``REGISTRY`` is complete once the import returns.
"""

from . import (  # noqa: F401 — importing a family registers its queries
    dedup,
    graph,
    history,
    multimodal,
    packing,
    relational,
    routing,
    sampling,
    similarity,
    stats,
    text,
)
from ._base import REGISTRY

__all__ = ["REGISTRY"]
