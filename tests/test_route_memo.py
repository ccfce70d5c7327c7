"""Routing-decision memoization (round-6 verdict item 4) and the stale
deferred-cache-fill guard (round-6 advisor finding #3).

Real deployments register hundreds of cubes; without a memo every sql()
re-scores all of them. The memo replays the DECISION only — execution
re-runs from the stored digest, so data (incl. hybrid realtime tails) is
never served stale; the key embeds the cache epoch, so any cube change
invalidates every decision.
"""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE

ROUTED_SQL = (
    "select l_returnflag, sum(l_quantity) as s from lineitem group by l_returnflag"
)
PUSHDOWN_SQL = (
    "select l_returnflag, count(*) as n from lineitem "
    "where l_quantity > 30 group by l_returnflag"
)


@pytest.fixture(scope="module")
def eng(spark, tpch_cube_store, tmp_path_factory):
    # clone of the session-built cube instead of a fresh 49-layout build
    # (r14 suite-budget fix): byte-identical layouts, same routing
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path_factory.mktemp("memo_cubes")))
    e = OlapEngine(spark, storage_dir=d)
    e.register_sources(SF_SMOKE)
    e.add_model(TPCH_MODEL)
    e.load_cube(TPCH_CUBE)
    return e


def test_repeated_query_plans_once(eng):
    """Second identical call must not re-score any cube (plan_route_calls
    frozen) yet must produce the identical answer and route metadata."""
    a = {tuple(r) for r in eng.sql(ROUTED_SQL).collect()}
    route_1 = eng.last_route
    calls_after_first = eng.metrics["plan_route_calls"]
    assert calls_after_first >= 1

    b = {tuple(r) for r in eng.sql(ROUTED_SQL).collect()}
    assert eng.metrics["plan_route_calls"] == calls_after_first  # no re-plan
    assert eng.metrics["route_memo_hits"] >= 1
    assert a == b
    assert eng.last_route is route_1  # same decision object replayed
    # hit/workload accounting identical to a fresh plan
    assert eng.metrics["routed"] == 2


def test_pushdown_decision_memoized_and_feeds_workload(eng):
    wl_before = sum(eng.workload.values())
    eng.sql(PUSHDOWN_SQL)
    assert eng.last_route is None
    calls = eng.metrics["plan_route_calls"]
    hits = eng.metrics["route_memo_hits"]
    eng.sql(PUSHDOWN_SQL)
    assert eng.last_route is None
    assert eng.metrics["plan_route_calls"] == calls  # negative decision reused
    assert eng.metrics["route_memo_hits"] == hits + 1
    # both executions count toward the cube-planner workload
    assert sum(eng.workload.values()) == wl_before + 2


def test_memo_invalidated_by_build(spark, tpch_cube_store, tmp_path):
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path / "clone"))
    e = OlapEngine(spark, storage_dir=d)
    e.register_sources(SF_SMOKE)
    e.add_model(TPCH_MODEL)
    e.load_cube(TPCH_CUBE)
    e.sql(ROUTED_SQL)
    assert e._route_memo
    # ANY cube build bumps the epoch and must clear every memoized
    # decision — a 2-dim variant keeps the invariant while costing a
    # 3-layout build instead of a second 49-layout one (r14 suite budget)
    from kylin_on_parquet_v2_spark.metadata.cube import CubeDesc

    mini = CubeDesc(
        name="tpch_mini_bump",
        model_name=TPCH_CUBE.model_name,
        dimensions=("l_returnflag", "l_linestatus"),
        measures=TPCH_CUBE.measures[:2],
    )
    e.build_cube(mini)  # epoch bump
    assert not e._route_memo
    # replans after the bump (fresh epoch in the key)
    calls = e.metrics["plan_route_calls"]
    e.sql(ROUTED_SQL)
    assert e.metrics["plan_route_calls"] > calls


def test_validate_bypasses_memo(eng):
    """validate=True always dual-executes from a fresh plan."""
    hits = eng.metrics["route_memo_hits"]
    eng.sql(ROUTED_SQL, validate=True)
    assert eng.metrics["route_memo_hits"] == hits


def test_stale_pending_cache_cleared_on_next_sql(spark, tmp_path):
    """Embedded use alongside the server: a pending fill parked by one call
    must not survive into the next (advisor r6 #3) — and the handler-side
    expect_df guard refuses a pending parked for a different DataFrame."""
    e = OlapEngine(spark, storage_dir=str(tmp_path), result_cache_size=4)
    e.register_sources(SF_SMOKE)
    e.defer_cache_fill = True
    df1 = e.sql("select 1 as a")
    assert e._pending_cache is not None
    # a second sql() clears the stale slot on entry before parking its own
    df2 = e.sql("select 2 as b")
    p = e.take_pending_cache(expect_df=df2)
    assert p is not None and p[1] is df2
    # expect_df mismatch: pending for df2 is never served as df1's answer
    e.sql("select 3 as c")
    assert e.take_pending_cache(expect_df=df1) is None
    assert e._pending_cache is None  # discarded, not left behind


def test_concurrent_mixed_queries_thread_safe(eng):
    """Many threads hammering a mix of routed / pushdown / repeated queries
    must produce exactly the single-threaded answers — no memo corruption,
    no cross-query cache bleed, no exception. (The advisor flagged engine
    cache handling twice; this pins the locked paths under contention.)"""
    import threading

    queries = [
        ROUTED_SQL,
        PUSHDOWN_SQL,
        "select count(*) as n from lineitem",
        "select l_linestatus, sum(l_extendedprice) as s from lineitem "
        "group by l_linestatus",
    ]
    expected = [
        sorted(tuple(r) for r in eng.sql(q).collect()) for q in queries
    ]
    errors: list[Exception] = []
    results: dict[tuple[int, int], list] = {}

    def run(tid: int) -> None:
        try:
            for i, q in enumerate(queries):
                results[(tid, i)] = sorted(tuple(r) for r in eng.sql(q).collect())
        except Exception as exc:  # noqa: BLE001 — recorded for the assert
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,)) for t in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(results) == 6 * len(queries)
    for (tid, i), rows in results.items():
        assert rows == expected[i], (tid, i)
    # memo still coherent afterwards: a repeat plans zero new routes
    before = eng.metrics["plan_route_calls"]
    eng.sql(ROUTED_SQL).collect()
    assert eng.metrics["plan_route_calls"] == before


def test_memo_survives_direct_merge_without_manual_clear(spark, tmp_path):
    """Round-9 advisor (medium): a caller driving cube/merge.py DIRECTLY —
    outside OlapEngine.refresh_cube, without touching engine._route_memo —
    must still get the merged segment's rows. A merged dir reuses its first
    absorbed segment's name with WIDER dim ranges, so a stale memoized
    segment_reject would silently drop them; the lifecycle epoch stored in
    the memo entry forces a re-plan instead."""
    from kylin_on_parquet_v2_spark.cube.merge import merge_segments
    from kylin_on_parquet_v2_spark.metadata import (
        CubeDesc,
        DataModel,
        FunctionDesc,
        MeasureDesc,
    )

    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW orders_memo AS
        SELECT o_orderkey, o_totalprice, o_orderdate,
               month(o_orderdate) AS o_month
        FROM orders
        """
    )
    e = OlapEngine(spark, storage_dir=str(tmp_path / "memo_merge_cubes"))
    e.register_sources(SF_SMOKE)
    e.add_model(
        DataModel(
            name="orders_memo_star",
            fact_table="orders_memo",
            partition_column="o_orderdate",
        )
    )
    e.build_cube(
        CubeDesc(
            name="orders_memo_cube",
            model_name="orders_memo_star",
            dimensions=("o_month",),
            measures=(MeasureDesc("_count", FunctionDesc("COUNT")),),
            segment_granularity="month",
        )
    )
    sql = "select count(*) as n from orders_memo where o_month = 2"
    before = e.sql(sql).collect()[0]["n"]
    assert before > 0
    route = e.last_route
    assert route is not None and route.segment_reject  # Feb filter memoized

    inst = e.cubes["orders_memo_cube"]
    segs = sorted(inst.segments(spark))[:3]  # Jan..Mar of the first year
    merged = segs[0]  # the Jan dir name now holds Jan+Feb+Mar rows
    merge_segments(spark, inst, segs, merged)
    # NO manual e._route_memo.clear() — the epoch check must handle it

    after = e.sql(sql).collect()[0]["n"]
    assert after == before, (
        f"stale memoized segment_reject dropped merged rows: {after} != {before}"
    )
    replayed = e.last_route
    assert replayed is not None
    assert merged not in replayed.segment_reject


#: one text per route kind; the multi-context texts are the ones
#: tests/test_router.py routes (join islands, union branches, agg over union)
_KIND_SQL = {
    "exact": """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
       from lineitem group by l_returnflag, l_linestatus""",
    "reagg": """select l_returnflag, sum(l_quantity) as s from lineitem
       where l_linestatus = 'F' group by l_returnflag""",
    "join": """select a.l_returnflag, a.sum_qty, b.n_f
             from (select l_returnflag, sum(l_quantity) as sum_qty
                   from lineitem group by l_returnflag) a
             join (select l_returnflag as rf2, count(*) as n_f
                   from lineitem where l_linestatus = 'F'
                   group by l_returnflag) b
               on a.l_returnflag = b.rf2
             order by a.l_returnflag""",
    "union": """select l_returnflag as k, sum(l_quantity) as v
             from lineitem group by l_returnflag
             union all
             select l_linestatus as k, sum(l_quantity) as v
             from lineitem group by l_linestatus
             order by k, v""",
    "agg_union": """select k, round(sum(v), 2) as total, count(*) as n_branches
             from (
               select l_returnflag as k, sum(l_quantity) as v
               from lineitem where l_linestatus = 'F' group by l_returnflag
               union all
               select l_returnflag as k, sum(l_quantity) as v
               from lineitem where l_linestatus = 'O' group by l_returnflag
             ) u
             group by k
             order by k""",
    "pushdown": "select l_returnflag, sum(l_tax) as s from lineitem group by l_returnflag",
    "undigestible": """select l_orderkey, row_number() over (order by l_orderkey) as rn
       from lineitem order by l_orderkey limit 3""",
}

_COUNTED = (
    "routed", "exact_hits", "routed_multi_context", "pushdown", "undigestible",
    "route_memo_hits", "plan_route_calls", "segments_range_pruned",
)


def _call(eng, sql):
    before = dict(eng.metrics)
    eng.sql(sql)
    keys = set(_COUNTED) | {k for k in eng.metrics if k.startswith("cube:")}
    delta = {k: eng.metrics[k] - before.get(k, 0) for k in keys}
    routes = [(r.cube, r.cuboid.cuboid_id) for r in eng.last_routes]
    return {k: v for k, v in delta.items() if v}, routes


@pytest.mark.parametrize(
    "kind, first, replay, routes",
    [
        ("exact",
         {"routed": 1, "exact_hits": 1, "plan_route_calls": 1, "cube:tpch_cube": 1},
         {"routed": 1, "exact_hits": 1, "route_memo_hits": 1, "cube:tpch_cube": 1},
         [("tpch_cube", 3)]),
        ("reagg",
         {"routed": 1, "plan_route_calls": 1, "cube:tpch_cube": 1},
         {"routed": 1, "route_memo_hits": 1, "cube:tpch_cube": 1},
         [("tpch_cube", 3)]),
        ("join",
         {"routed": 1, "routed_multi_context": 1, "plan_route_calls": 2,
          "cube:tpch_cube": 2},
         {"routed": 1, "routed_multi_context": 1, "route_memo_hits": 1,
          "plan_route_calls": 2, "cube:tpch_cube": 2},
         [("tpch_cube", 1), ("tpch_cube", 3)]),
        ("union",
         {"routed": 1, "routed_multi_context": 1, "plan_route_calls": 2,
          "cube:tpch_cube": 2},
         {"routed": 1, "routed_multi_context": 1, "route_memo_hits": 1,
          "plan_route_calls": 2, "cube:tpch_cube": 2},
         [("tpch_cube", 1), ("tpch_cube", 2)]),
        ("agg_union",
         {"routed": 1, "routed_multi_context": 1, "plan_route_calls": 2,
          "cube:tpch_cube": 2},
         {"routed": 1, "routed_multi_context": 1, "route_memo_hits": 1,
          "plan_route_calls": 2, "cube:tpch_cube": 2},
         [("tpch_cube", 3), ("tpch_cube", 3)]),
        ("pushdown",
         {"pushdown": 1, "plan_route_calls": 1},
         {"pushdown": 1, "route_memo_hits": 1},
         []),
        ("undigestible",
         {"undigestible": 1},
         {"undigestible": 1, "route_memo_hits": 1},
         []),
    ],
)
def test_route_kind_accounting_characterized(eng, kind, first, replay, routes):
    """Every route kind, planned fresh and then replayed from the memo,
    moves the same engine.metrics counters by the same amounts and leaves
    the same last_routes — the contract the benchmark's route-kind and
    memo-share figures are read from."""
    got_first, routes_1 = _call(eng, _KIND_SQL[kind])
    got_replay, routes_2 = _call(eng, _KIND_SQL[kind])
    assert got_first == first
    assert got_replay == replay
    assert routes_1 == routes_2 == routes


def test_stale_epoch_decision_plans_again(eng):
    """A memoized decision whose cube lifecycle epoch moved on is not
    replayed: the query plans again and memoizes the fresh decision."""
    sql = _KIND_SQL["reagg"] + " order by s"
    first, _ = _call(eng, sql)
    assert first["plan_route_calls"] == 1
    eng.cubes["tpch_cube"].lifecycle_epoch += 1
    again, _ = _call(eng, sql)
    assert again == {"routed": 1, "plan_route_calls": 1, "cube:tpch_cube": 1}
    replay, _ = _call(eng, sql)
    assert replay == {"routed": 1, "route_memo_hits": 1, "cube:tpch_cube": 1}


def test_miss_reasons_recorded_and_explained(eng, monkeypatch):
    """A query that does not route keeps why in its decision, and
    explain() prints it. An unexpected error while serving a multi-context
    query still falls back to spark.sql, with the error as the reason."""
    eng.sql(_KIND_SQL["pushdown"])
    assert eng.last_decision.reason == "no cube can serve"
    assert "\nreason: undigestible\n" in eng.explain(_KIND_SQL["undigestible"])

    def boom(*_args):
        raise RuntimeError("island planner broke\nsecond line")

    monkeypatch.setattr(eng, "_execute_join_digest", boom)
    sql = _KIND_SQL["join"] + " limit 2"
    assert len(eng.sql(sql).collect()) == 2
    assert eng.last_route is None
    assert eng.last_decision.kind == "undigestible"
    assert eng.last_decision.reason == "RuntimeError: island planner broke"
    assert "\nreason: RuntimeError: island planner broke\n" in eng.explain(sql)
