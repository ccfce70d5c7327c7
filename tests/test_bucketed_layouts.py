"""Bucketed cuboid layouts (round-6 verdict item 3): CubeDesc.bucket_layouts
wires cube/bucketing.py into the layout write, so the ROUTED scan carries
HashPartitioning on the shard key — a routed re-aggregation or island join
keyed on it skips the Exchange (reference
``KylinFileSourceScanExec.scala:74-135`` exposes outputPartitioning for
exactly this). Answers must be byte-identical to the dir-partitioned form."""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.metadata import (
    CubeDesc,
    DataModel,
    FunctionDesc,
    MeasureDesc,
)
from kylin_on_parquet_v2_spark.query import router
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE

MODEL = DataModel(name="bl_star", fact_table="lineitem")


def _cube(name: str, bucketed: bool) -> CubeDesc:
    return CubeDesc(
        name=name,
        model_name="bl_star",
        dimensions=("l_suppkey", "l_returnflag"),
        measures=(
            MeasureDesc("_count", FunctionDesc("COUNT")),
            MeasureDesc("sum_qty", FunctionDesc("SUM", "l_quantity")),
        ),
        # only the base cuboid (plus the always-kept 0-dim): a group-by on
        # l_suppkey alone must RE-AGGREGATE the 2-dim layout — that's the
        # exchange the bucket spec is supposed to elide
        cuboid_ids=(3,),
        shard_by="l_suppkey",
        shard_buckets=4,
        bucket_layouts=bucketed,
    )


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    eng_b = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("bl_bucketed")))
    eng_b.register_sources(SF_SMOKE)
    eng_b.add_model(MODEL)
    eng_b.build_cube(_cube("bl_cube_bucketed", True))
    eng_p = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("bl_plain")))
    eng_p.register_sources(SF_SMOKE)
    eng_p.add_model(MODEL)
    eng_p.build_cube(_cube("bl_cube_plain", False))
    yield eng_b, eng_p
    for t in eng_b.cubes["bl_cube_bucketed"].layout_tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


SQL = (
    "select l_suppkey, sum(l_quantity) as s, count(*) as n "
    "from lineitem group by l_suppkey"
)


def _routed_plan(eng, sql):
    df = eng.sql(sql)
    assert eng.last_route is not None, "expected a cube route"
    return df, df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def distributed(monkeypatch):
    """Plan the routed reads with Spark's file splits: these layouts are
    small enough to be read as one partition, which needs no exchange
    whether the layout is bucketed or not."""
    monkeypatch.setattr(router, "ONE_PARTITION_ROWS", 0)


def test_bucketed_route_elides_shard_key_exchange(engines, distributed):
    eng_b, eng_p = engines
    df_b, plan_b = _routed_plan(eng_b, SQL)
    assert eng_b.cubes["bl_cube_bucketed"].layout_tables, "expected bucketed tables"
    assert not any(
        "Exchange hashpartitioning" in ln and "l_suppkey" in ln
        for ln in plan_b.splitlines()
    ), plan_b
    # the dir-partitioned layout pays the exchange for the same query
    _, plan_p = _routed_plan(eng_p, SQL)
    assert any(
        "Exchange hashpartitioning" in ln and "l_suppkey" in ln
        for ln in plan_p.splitlines()
    ), plan_p


def test_bucketed_answers_unchanged(engines):
    eng_b, eng_p = engines
    got = {tuple(r) for r in eng_b.sql(SQL).collect()}
    exp = {tuple(r) for r in eng_p.sql(SQL).collect()}
    assert got == exp and len(got) > 0


def test_bucketed_exact_hit_and_filters_still_work(engines):
    eng_b, eng_p = engines
    sql = (
        "select l_suppkey, l_returnflag, sum(l_quantity) as s from lineitem "
        "where l_returnflag = 'R' group by l_suppkey, l_returnflag"
    )
    got = {tuple(r) for r in eng_b.sql(sql).collect()}
    assert eng_b.last_route is not None
    exp = {tuple(r) for r in eng_p.sql(sql).collect()}
    assert got == exp


def test_bucketed_island_join_colocated(engines, distributed):
    """Two routed aggregate islands joined on the shard key: both sides
    come back bucket-partitioned, so the JOIN itself needs no exchange on
    either input."""
    eng_b, _ = engines
    sql = (
        "select a.l_suppkey, a.s, b.n from "
        "(select l_suppkey, sum(l_quantity) as s from lineitem group by l_suppkey) a "
        "join (select l_suppkey as sk2, count(*) as n from lineitem group by l_suppkey) b "
        "on a.l_suppkey = b.sk2"
    )
    df = eng_b.sql(sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(
        "Exchange hashpartitioning" in ln and "l_suppkey" in ln
        for ln in plan.splitlines()
    ), plan
    # values still correct vs pushdown
    got = {tuple(r) for r in df.collect()}
    exp = {tuple(r) for r in eng_b.pushdown(sql).collect()}
    assert got == exp


def test_bucket_layouts_requires_shard_by():
    with pytest.raises(ValueError, match="shard_by"):
        CubeDesc(
            name="bad",
            model_name="m",
            dimensions=("a",),
            measures=(MeasureDesc("_count", FunctionDesc("COUNT")),),
            bucket_layouts=True,
        )


def test_bucketed_segmented_incremental_append(spark, tmp_path_factory, distributed):
    """Bucketed layouts on a SEGMENTED cube: the segment dirs partition the
    bucketed table, incremental builds APPEND new segment dirs through the
    same table spec, and the shard-key re-agg stays exchange-free over the
    multi-segment table with correct answers."""
    import datetime as dt

    from pyspark.sql import functions as SF

    rows = [
        (k % 5, dt.date(2024, 10, day), float(k + day))
        for day in (1, 2, 3)
        for k in range(20)
    ]
    fact = spark.createDataFrame(rows, "sk long, d date, v double")
    fact.filter(SF.col("d") <= "2024-10-02").createOrReplaceTempView("bs_fact")

    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("bs_cubes")))
    eng.add_model(DataModel(name="bs_star", fact_table="bs_fact", partition_column="d"))
    cube = CubeDesc(
        name="bs_cube",
        model_name="bs_star",
        dimensions=("sk", "d"),
        measures=(
            MeasureDesc("_count", FunctionDesc("COUNT")),
            MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
        ),
        cuboid_ids=(3,),
        shard_by="sk",
        shard_buckets=4,
        bucket_layouts=True,
        segment_granularity="day",
    )
    eng.build_cube(cube)
    inst = eng.cubes["bs_cube"]
    assert inst.layout_tables, "expected bucketed table registrations"
    assert set(inst.segments(spark)) == {"2024-10-01", "2024-10-02"}

    # day 3 lands; incremental build appends through the same table spec
    fact.createOrReplaceTempView("bs_fact")
    built = eng.refresh_cube("bs_cube")
    assert built == ["2024-10-03"]
    assert set(inst.segments(spark)) == {"2024-10-01", "2024-10-02", "2024-10-03"}

    sql = "select sk, sum(v) as s, count(*) as n from bs_fact group by sk"
    df = eng.sql(sql)
    assert eng.last_route is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(
        "Exchange hashpartitioning" in ln and "sk" in ln.split("Exchange")[1][:60]
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ), plan
    got = {tuple(r) for r in df.collect()}
    exp = {tuple(r) for r in eng.pushdown(sql).collect()}
    assert got == exp
    for t in inst.layout_tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_segment_refresh(spark, tmp_path_factory, distributed):
    """Segment REFRESH on a bucket_layouts cube (r11 What's-missing #3):
    the staged segment writes through a SIDE table with the same bucket
    spec, its bucket-id file names survive the dir swap, and afterwards
    the live table still serves the shard-key re-agg exchange-free with
    restated answers; the other segment's bytes are untouched and no
    staging tables or dirs are left behind."""
    import datetime as dt
    import os

    def rows(late: bool):
        out = [
            (k % 5, dt.date(2024, 11, day), float(k + day))
            for day in (1, 2)
            for k in range(20)
        ]
        if late:
            out.append((7, dt.date(2024, 11, 2), 100.0))  # new shard key
        return out

    spark.createDataFrame(
        rows(False), "sk long, d date, v double"
    ).createOrReplaceTempView("br_fact")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("br_cubes")))
    eng.add_model(DataModel(name="br_star", fact_table="br_fact", partition_column="d"))
    eng.build_cube(
        CubeDesc(
            name="br_cube",
            model_name="br_star",
            dimensions=("sk", "d"),
            measures=(
                MeasureDesc("_count", FunctionDesc("COUNT")),
                MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
            ),
            cuboid_ids=(3,),
            shard_by="sk",
            shard_buckets=4,
            bucket_layouts=True,
            segment_granularity="day",
        )
    )
    inst = eng.cubes["br_cube"]
    assert inst.layout_tables, "expected bucketed table registrations"
    try:
        base_path = inst.layouts[max(inst.layouts)]

        def listing(seg):
            root = os.path.join(base_path, f"__segment__={seg}")
            return sorted(
                os.path.join(os.path.relpath(r, root), f)
                for r, _d, fs in os.walk(root)
                for f in fs
                if not f.startswith(".")
            )

        day1_before = listing("2024-11-01")

        spark.createDataFrame(
            rows(True), "sk long, d date, v double"
        ).createOrReplaceTempView("br_fact")
        eng.refresh_segment("br_cube", "2024-11-02")

        sql = "select sk, sum(v) as s, count(*) as n from br_fact group by sk"
        df = eng.sql(sql, validate=True)
        assert eng.last_route is not None
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not any(
            "Exchange hashpartitioning" in ln and "sk" in ln.split("Exchange")[1][:60]
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        ), plan
        got = {tuple(r) for r in df.collect()}
        assert (7, 100.0, 1) in got  # the restated row, via the new shard key
        assert got == {tuple(r) for r in eng.pushdown(sql).collect()}
        # day-1 bytes untouched; no staging dirs or side tables remain
        assert listing("2024-11-01") == day1_before
        for path in inst.layouts.values():
            assert not [n for n in os.listdir(path) if "staging" in n], path
        leftover = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.endswith("_rstg")
        ]
        assert not leftover, leftover
    finally:
        for t in inst.layout_tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
