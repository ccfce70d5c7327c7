"""A routed read of a small layout runs as one Spark stage.

A layout whose recorded row count is at most ``router.ONE_PARTITION_ROWS``
is scanned as one partition, so the aggregations above the scan (a
re-aggregation, the bag fold's two levels, one per grouping set, the
INTERSECT pipeline and its join) need no shuffle: no ``Exchange`` in the
executed plan, and one Spark job for a cold read and for its memo replay.
With the bound at 0 the same reads keep Spark's default plan, hash
exchange included. On both sides the answer equals pushdown in rows and
types.
"""

from __future__ import annotations

import uuid

import pytest

from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
from kylin_on_parquet_v2_spark.query import router
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def engine(spark, tpch_cube_store):
    # read-only: nothing here writes to the session template store
    eng = OlapEngine(spark, storage_dir=tpch_cube_store)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.load_cube(TPCH_CUBE)
    return eng


#: each read filters on a fresh literal ({tag}), so it plans cold
READS = {
    "reagg": """select l_returnflag, sum(l_quantity) as s,
            avg(l_extendedprice) as a, count(*) as n
        from lineitem where l_linestatus <> '{tag}' group by l_returnflag""",
    "bag_fold": """select l_linestatus, count(distinct l_partkey) as nd,
            count(*) as n
        from lineitem where l_returnflag <> '{tag}' group by l_linestatus""",
    "rollup": """select l_returnflag, l_linestatus, sum(l_quantity) as s,
            count(*) as n
        from lineitem join orders on l_orderkey = o_orderkey
        where o_orderstatus <> '{tag}'
        group by rollup(l_returnflag, l_linestatus)""",
    "intersect": """select l_returnflag,
            intersect_count(l_partkey, l_linestatus, array('O', 'F')) as both
        from lineitem join orders on l_orderkey = o_orderkey
        where o_orderstatus <> '{tag}' group by l_returnflag""",
}


def _jobs(spark, run) -> int:
    """Spark jobs started by ``run()`` (planning and collect alike)."""
    sc = spark.sparkContext
    group = f"one-partition-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _routed_matches_pushdown(engine, sql: str):
    df = engine.sql(sql)
    assert engine.last_decision.kind == "routed", engine.last_decision.reason
    push = engine.pushdown(sql)
    assert df.dtypes == push.dtypes
    engine._assert_same(df, push)
    return df


@pytest.mark.parametrize("name", sorted(READS))
def test_small_layout_read_is_one_stage(spark, engine, name):
    sql = READS[name].format(tag=uuid.uuid4().hex[:6])
    df = _routed_matches_pushdown(engine, sql)
    route = engine.last_route
    rows = engine.cubes[route.cube].layout_rows[route.cuboid.cuboid_id]
    assert route.one_partition and rows <= router.ONE_PARTITION_ROWS
    assert "Exchange" not in _plan(df), _plan(df)
    sql = READS[name].format(tag=uuid.uuid4().hex[:6])
    cold = _jobs(spark, lambda: engine.sql(sql).collect())
    hits = engine.metrics["route_memo_hits"]
    replay = _jobs(spark, lambda: engine.sql(sql).collect())
    assert engine.metrics["route_memo_hits"] == hits + 1
    assert (cold, replay) == (1, 1)


@pytest.mark.parametrize("name", sorted(READS))
def test_bound_zero_keeps_the_hash_exchange(engine, monkeypatch, name):
    monkeypatch.setattr(router, "ONE_PARTITION_ROWS", 0)
    df = _routed_matches_pushdown(engine, READS[name].format(tag=uuid.uuid4().hex[:6]))
    assert not engine.last_route.one_partition
    assert "Exchange hashpartitioning" in _plan(df), _plan(df)


def test_explain_prints_the_scan_decision(engine, monkeypatch):
    text = engine.explain(READS["reagg"].format(tag=uuid.uuid4().hex[:6]))
    route = engine.last_route
    rows = engine.cubes[route.cube].layout_rows[route.cuboid.cuboid_id]
    assert f"scan: one partition (layout rows {rows} <= {router.ONE_PARTITION_ROWS})" in text
    monkeypatch.setattr(router, "ONE_PARTITION_ROWS", 0)
    text = engine.explain(READS["reagg"].format(tag=uuid.uuid4().hex[:6]))
    assert f"scan: Spark's file splits (layout rows {rows} > 0)" in text
