"""Registry integrity guards (no Spark needed, runs fast).

VERDICT r2 item 2: a duplicate literal key in ``SHARED_SQL`` silently
shadowed the round-1 ``q14_promo_share`` query — the dict keeps the last
binding, so coverage shrank by one query and the ``>= N`` size floor
couldn't notice a same-name overwrite.  The ``@query`` registrations
raise on a second name at import; for the one remaining dict literal
this test AST-parses the query modules and rejects duplicate keys.
"""

import ast
import collections
import pathlib

import pytest

QUERY_DIR = pathlib.Path(__file__).resolve().parent.parent / "queries"
MODULES = sorted(QUERY_DIR.glob("*.py"))

GUARDED = {"SHARED_SQL"}


def _module_dict_literals():
    out = {}
    for path in MODULES:
        for node in ast.parse(path.read_text()).body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
                value = node.value
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                targets = [node.target.id]
                value = node.value
            else:
                continue
            if not isinstance(value, ast.Dict):
                continue
            for name in targets:
                out[name] = value
    return out


def test_guarded_dicts_exist():
    found = set(_module_dict_literals())
    assert GUARDED <= found, f"missing registry dicts: {GUARDED - found}"


def test_no_duplicate_literal_keys():
    for name, node in _module_dict_literals().items():
        keys = [
            k.value
            for k in node.keys
            if isinstance(k, ast.Constant) and isinstance(k.value, str)
        ]
        dupes = [k for k, n in collections.Counter(keys).items() if n > 1]
        assert not dupes, f"duplicate keys in {name}: {dupes}"


def test_every_query_has_oracle():
    """VERDICT r3 item 8: a query without an oracle gets only the
    driver's weak row-count check.  ``@query`` takes the oracle as a
    required argument, so the two views of the registry agree."""
    import __spark_entry__ as e

    assert set(e.oracle_sql()) == set(e.queries())


def test_second_registration_under_existing_name_raises():
    """Python rebinds a name without a whisper; the registry must not."""
    from queries._base import REGISTRY, query, register

    before = dict(REGISTRY)
    with pytest.raises(ValueError, match="route_topics"):

        @query("SELECT 1")
        def q_route_topics(spark, sf_dir):
            return None

    with pytest.raises(ValueError, match="q1_pricing_summary"):
        register("q1_pricing_summary", lambda spark, sf_dir: None, "SELECT 1")
    assert REGISTRY == before


def test_registry_names_unique_across_sources():
    """A SHARED_SQL name must not also be a ``q_`` query — one of the
    two would be lost (the import now raises; this names the clash
    without importing Spark code)."""
    shared = {
        k.value
        for k in _module_dict_literals()["SHARED_SQL"].keys
        if isinstance(k, ast.Constant) and isinstance(k.value, str)
    }
    defined = {
        node.name.removeprefix("q_")
        for path in MODULES
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    }
    overlap = shared & defined
    assert not overlap, f"names defined in both SHARED_SQL and @query: {overlap}"


def test_no_duplicate_module_level_constant_bindings():
    """Round 6: wave 6r defined a second ``ORACLE_BOILERPLATE``, silently
    rebinding boilerplate_topk's oracle to boilerplate_shingles' SQL —
    rows/schema/hash all diverged, caught only by the full-registry
    sweep.  Python rebinds without a whisper, so reject ANY module-level
    constant (ORACLE_*/SHARED_* name) bound twice in one query module,
    by assignment or by import from another family."""
    dups = {}
    for path in MODULES:
        seen = collections.Counter()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                names = [node.target.id]
            elif isinstance(node, ast.ImportFrom):
                names = [a.asname or a.name for a in node.names]
            else:
                continue
            for n in names:
                if n.isupper():
                    seen[n] += 1
        dups.update({f"{path.name}:{n}": c for n, c in seen.items() if c > 1})
    assert not dups, (
        f"module-level constants bound more than once (the later binding "
        f"silently wins): {sorted(dups)}"
    )
