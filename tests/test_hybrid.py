"""Hybrid realization tests (reference storage/hybrid/HybridInstance, split
at TableScanPlan.scala:58-62): a segmented cube + realtime segment store
registered as ONE realization; engine.sql serves time-spanning aggregates as
batch-cuboid partials UNION the boundary-pruned realtime tail, re-merged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.metadata import (
    CubeDesc,
    DataModel,
    FunctionDesc,
    MeasureDesc,
)
from kylin_on_parquet_v2_spark.query.engine import OlapEngine

MODEL = DataModel(name="hy_star", fact_table="hy_fact", partition_column="d")

CUBE = CubeDesc(
    name="hy_cube",
    model_name="hy_star",
    dimensions=("k",),
    measures=(
        MeasureDesc("_count", FunctionDesc("COUNT")),
        MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
        MeasureDesc("cnt_v", FunctionDesc("COUNT", "v")),  # backs AVG(v)
        MeasureDesc("min_v", FunctionDesc("MIN", "v")),
        MeasureDesc("max_v", FunctionDesc("MAX", "v")),
    ),
    segment_granularity="day",
)

SPLIT = "2024-03-02"  # batch cube owns days <= SPLIT; realtime has all 4 days


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    import datetime as dt

    rows = []
    for day in (1, 2, 3, 4):
        for i in range(5):
            rows.append(
                (f"k{i % 2}", dt.date(2024, 3, day), float(day * 10 + i))
            )
    df = spark.createDataFrame(rows, "k string, d date, v double")
    df.createOrReplaceTempView("hy_fact")
    # realtime store: EVERYTHING, segment-partitioned with an hour-suffixed
    # dir format (finer than the batch day dirs — prefix-comparison contract)
    rt_dir = str(tmp_path_factory.mktemp("hy_rt"))
    df.withColumn(
        "__segment__", F.concat(F.date_format("d", "yyyy-MM-dd"), F.lit("-00"))
    ).write.mode("overwrite").partitionBy("__segment__").parquet(rt_dir)

    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("hy_cubes")))
    eng.add_model(MODEL)
    eng.build_cube(CUBE, segment_range=(None, SPLIT))
    eng.register_hybrid("hy_cube", rt_dir, ts_col="d")
    return eng


def test_hybrid_grouped_matches_pushdown(engine):
    df = engine.sql(
        "select k, count(*) as n, sum(v) as s, min(v) as lo, max(v) as hi"
        " from hy_fact group by k order by k",
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.hybrid_tail, route
    got = {r.k: (r.n, r.s, r.lo, r.hi) for r in df.collect()}
    # 4 days x 5 rows split k0(3)/k1(2)
    assert got["k0"][0] + got["k1"][0] == 20


def test_hybrid_global_and_filtered(engine):
    engine.sql("select count(*) as n, sum(v) as s from hy_fact", validate=True)
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    engine.sql(
        "select k, sum(v) as s from hy_fact where k = 'k1' group by k",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.hybrid_tail


def test_hybrid_avg_decomposes(engine):
    """AVG serves through the hybrid merge by SUM/COUNT decomposition —
    sum and count partials merge, the division runs once above."""
    df = engine.sql(
        "select k, avg(v) as a, count(*) as n from hy_fact group by k order by k",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    got = {r.k: r.a for r in df.collect()}
    assert set(got) == {"k0", "k1"}


def test_hybrid_having_sort_limit(engine):
    df = engine.sql(
        "select k, sum(v) as s from hy_fact group by k"
        " having count(*) > 0 order by s desc limit 1",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    assert df.count() == 1


def _scan_lines(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln.strip() for ln in plan.splitlines() if "FileScan" in ln]


def test_hybrid_realtime_scan_pruned_to_tail(engine):
    """The realtime side must read ONLY post-boundary segment dirs — the
    tail comparison lands in the scan's PartitionFilters (whole dirs skipped
    before file listing), and its strict > excludes the boundary day (so
    batch-covered days are never re-scanned = never double counted)."""
    df = engine.sql("select k, count(*) as n from hy_fact group by k")
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    rt_dir = engine.last_route.hybrid_tail
    scans = _scan_lines(df)
    rt_scans = [ln for ln in scans if rt_dir in ln]
    assert rt_scans, scans
    for ln in rt_scans:
        assert f"substring(__segment__" in ln and f"> {SPLIT}" in ln, ln
        assert "PartitionFilters: []" not in ln, ln
    # and the batch side serves from cuboid layouts, not the fact view
    assert any("cuboid=" in ln for ln in scans), scans


def test_hybrid_window_over_merge(engine):
    """Window functions replay ABOVE the batch+realtime merge (the same
    OLAPWindowRel position as plain routes) — rank over merged sums."""
    df = engine.sql(
        """select k, sum(v) as s,
                  rank() over (order by sum(v) desc) as rnk
           from hy_fact group by k order by rnk, k""",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    rows = df.collect()
    assert [r.rnk for r in rows] == [1, 2]


def test_hybrid_refuses_non_mergeable(engine):
    """COUNT DISTINCT cannot merge across the split: the hybrid cube stands
    aside and the engine answers via pushdown (complete source view)."""
    df = engine.sql("select k, count(distinct v) as nd from hy_fact group by k")
    assert engine.last_route is None  # pushdown
    got = {r.k: r.nd for r in df.collect()}
    assert got["k0"] == 12 and got["k1"] == 8


@pytest.mark.parametrize("split", ["2024-03-01", "2024-03-02", "2024-03-04"])
def test_hybrid_parity_at_any_split(spark, tmp_path_factory, split):
    """The batch/realtime boundary can sit anywhere (first day, middle,
    everything-in-batch) and the merged answer must equal pushdown — the
    invariant that makes continuous refresh safe."""
    import datetime as dt

    rows = [
        (f"k{i % 2}", dt.date(2024, 3, day), float(day * 10 + i))
        for day in (1, 2, 3, 4)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "k string, d date, v double")
    df.createOrReplaceTempView("hy_fact_sweep")
    rt_dir = str(tmp_path_factory.mktemp(f"hy_rt_{split[-2:]}"))
    df.withColumn(
        "__segment__", F.concat(F.date_format("d", "yyyy-MM-dd"), F.lit("-00"))
    ).write.mode("overwrite").partitionBy("__segment__").parquet(rt_dir)
    from dataclasses import replace

    eng = OlapEngine(
        spark, storage_dir=str(tmp_path_factory.mktemp(f"hy_cubes_{split[-2:]}"))
    )
    eng.add_model(replace(MODEL, name="hy_sweep", fact_table="hy_fact_sweep"))
    eng.build_cube(
        replace(CUBE, name=f"hy_cube_{split[-2:]}", model_name="hy_sweep"),
        segment_range=(None, split),
    )
    eng.register_hybrid(f"hy_cube_{split[-2:]}", rt_dir, ts_col="d")
    eng.sql(
        "select k, count(*) as n, sum(v) as s, min(v) as lo, max(v) as hi"
        " from hy_fact_sweep group by k order by k",
        validate=True,
    )
    assert eng.last_route is not None and eng.last_route.hybrid_tail


def test_hybrid_results_never_cached(spark, engine, tmp_path_factory):
    """A route-memo replay reuses the decision, never the rows: new
    realtime data lands outside the engine's cache epoch, so the replayed
    hybrid route must re-read the realtime tail. Fresh realtime rows must
    show up on the SECOND identical query."""
    import pyspark.sql.functions as F

    from kylin_on_parquet_v2_spark.metadata import (
        CubeDesc,
        DataModel,
        FunctionDesc,
        MeasureDesc,
    )
    from kylin_on_parquet_v2_spark.query.engine import OlapEngine

    spark.createDataFrame(
        [("k0", "2024-03-01", 1.0)], "k string, d string, v double"
    ).selectExpr("k", "cast(d as date) as d", "v").createOrReplaceTempView("hc_fact")
    rt_dir = str(tmp_path_factory.mktemp("hc_rt"))
    spark.table("hc_fact").withColumn(
        "__segment__", F.date_format("d", "yyyy-MM-dd")
    ).write.mode("overwrite").partitionBy("__segment__").parquet(rt_dir)
    eng = OlapEngine(
        spark,
        storage_dir=str(tmp_path_factory.mktemp("hc_cubes")),
    )
    eng.add_model(DataModel(name="hc_star", fact_table="hc_fact", partition_column="d"))
    eng.build_cube(
        CubeDesc(
            name="hc_cube",
            model_name="hc_star",
            dimensions=("k",),
            measures=(MeasureDesc("_cnt", FunctionDesc("COUNT")),),
            segment_granularity="day",
        ),
        segment_range=(None, "2024-03-01"),
    )
    eng.register_hybrid("hc_cube", rt_dir, ts_col="d")
    q = "select k, count(*) as n from hc_fact group by k"
    n1 = eng.sql(q).collect()[0].n
    assert eng.last_route is not None and eng.last_route.hybrid_tail
    # new realtime data lands (post-boundary segment) with NO engine call
    spark.createDataFrame(
        [("k0", "2024-03-05", 2.0), ("k0", "2024-03-05", 3.0)],
        "k string, d string, v double",
    ).selectExpr("k", "cast(d as date) as d", "v").withColumn(
        "__segment__", F.date_format("d", "yyyy-MM-dd")
    ).write.mode("append").partitionBy("__segment__").parquet(rt_dir)
    hits = eng.metrics["route_memo_hits"]
    n2 = eng.sql(q).collect()[0].n
    assert eng.metrics["route_memo_hits"] == hits + 1  # served by replay
    assert n2 == n1 + 2, (n1, n2)  # reused rows would have frozen n1


def test_hybrid_boundary_moves_after_refresh(engine):
    """build_increment absorbs a new day into the batch store; the tail
    filter must advance so the absorbed day is not double counted."""
    built = engine.refresh_cube("hy_cube", segments=["2024-03-03"])
    assert built == ["2024-03-03"]
    df = engine.sql(
        "select k, count(*) as n, sum(v) as s from hy_fact group by k order by k",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    rt_dir = engine.last_route.hybrid_tail
    rt_scans = [ln for ln in _scan_lines(df) if rt_dir in ln]
    assert rt_scans
    for ln in rt_scans:
        assert "> 2024-03-03" in ln, ln  # boundary advanced past the new day
