"""The plan memo (``queries._base.memo``, behind ``_t`` and
``_pure_plan``) caches CONSTRUCTION only: the memoized object must be an
unexecuted plan keyed by (session, sf_dir), so alternating scale factors
inside one session returns each sf_dir's own data, and repeated calls
return the identical plan object (the optimization's whole point — zero
rebuild cost).
"""

from __future__ import annotations

import types

import __spark_entry__ as entrymod
from queries import _base
from queries.dedup import _build_planted_docs, _planted_component_edges

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pure_plan_memo_keyed_by_sf_dir(spark):
    qs = entrymod.queries()
    a1 = _rows(qs["route_topics"](spark, SF_A))
    b = _rows(qs["route_topics"](spark, SF_B))
    a2 = _rows(qs["route_topics"](spark, SF_A))
    assert a1 == a2
    assert a1 != b  # different corpus -> different counts
    # memo hit: same unexecuted plan object both times
    assert qs["route_topics"](spark, SF_A) is qs["route_topics"](spark, SF_A)


def test_shared_sql_memo_keyed_by_sf_dir(spark):
    qs = entrymod.queries()
    a1 = _rows(qs["q1_pricing_summary"](spark, SF_A))
    b = _rows(qs["q1_pricing_summary"](spark, SF_B))
    a2 = _rows(qs["q1_pricing_summary"](spark, SF_A))
    assert a1 == a2
    assert a1 != b
    assert (
        qs["q1_pricing_summary"](spark, SF_A)
        is qs["q1_pricing_summary"](spark, SF_A)
    )


def test_roundtrip_checkpoint_not_memoized(spark):
    """roundtrip's ENCODE PLAN is memoized but the localCheckpoint
    wrapper must be fresh per call — otherwise pass N+1 would reuse
    pass N's materialized blocks (result caching, forbidden)."""
    qs = entrymod.queries()
    d1 = qs["roundtrip_route_topics"](spark, SF_A)
    d2 = qs["roundtrip_route_topics"](spark, SF_A)
    assert d1 is not d2
    assert _rows(d1) == _rows(d2)


def test_planted_edges_memo_consistency(spark):
    """The four components consumers share one memoized edge plan; the
    components they derive from it must match a freshly built edge set."""
    from kafka_firehose_nozzle_spark.operators import dedup as D

    fresh = D.lsh_component_edges(
        _build_planted_docs(spark, SF_A),
        num_hashes=8,
        num_bands=4,
        dedup_edges=False,
    )
    memod = _planted_component_edges(spark, SF_A)
    assert _rows(fresh) == _rows(memod)


def _session(app_id: str):
    return types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId=app_id)
    )


def test_memo_growth_bounded_and_dead_sessions_evicted_first(monkeypatch):
    """VERDICT r11 item 7: the construction memo must not grow without
    bound across many sf_dirs in one long-lived session, and entries
    from other (dead) applicationIds must be evicted before the live
    session loses anything."""
    memo: dict = {}
    monkeypatch.setattr(_base, "_MEMO", memo)
    cap = _base._MEMO_CAP
    dead, live = _session("dead-app"), _session("live-app")
    # fill with a dead session's keys up to the cap
    for i in range(cap):
        _base.memo(dead, (f"sf{i}", "t"), lambda: i)
    assert len(memo) == cap
    # a live session's insert evicts ONLY the dead session's entries
    _base.memo(live, ("sfX", "t"), lambda: "x")
    assert memo == {("live-app", "sfX", "t"): "x"}
    # a single session exceeding the cap clears rather than grows
    for i in range(cap + 10):
        _base.memo(live, (f"sf{i}", "t"), lambda: i)
    assert len(memo) <= cap


def test_table_reads_go_through_bounded_memo(spark):
    """_t routes through the bounded memo (no raw unbounded insert)."""
    before = len(_base._MEMO)
    _base._t(spark, SF_A, "region")
    _base._t(spark, SF_A, "region")  # hit, no growth
    after = len(_base._MEMO)
    assert after <= before + 1
    assert after <= _base._MEMO_CAP
    assert (spark.sparkContext.applicationId, "_t", SF_A, "region") in _base._MEMO
