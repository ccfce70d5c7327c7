"""Decimal SUM precision pinning (CuboidAggregator.scala:125-132 parity):
layered re-aggregation must not widen decimal precision build over build,
and values must survive the cube path exactly. Routed decimal SUM and AVG
answers have pushdown's types and digits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from kylin_on_parquet_v2_spark.cube.build import CubeBuilder
from kylin_on_parquet_v2_spark.metadata.cube import CubeDesc, FunctionDesc, MeasureDesc
from kylin_on_parquet_v2_spark.metadata.model import DataModel
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from kylin_on_parquet_v2_spark.session import register_views
from tests.conftest import SF_SMOKE


def test_decimal_sum_precision_pinned(spark, tmp_path):
    register_views(spark, SF_SMOKE)
    spark.table("lineitem").withColumn(
        "l_price_dec", F.col("l_extendedprice").cast(DecimalType(19, 4))
    ).createOrReplaceTempView("lineitem_dec")

    model = DataModel(name="dec_model", fact_table="lineitem_dec")
    cube = CubeDesc(
        name="dec_cube",
        model_name="dec_model",
        dimensions=("l_returnflag", "l_linestatus"),
        measures=(
            MeasureDesc("_count", FunctionDesc("COUNT")),
            MeasureDesc("sum_dec", FunctionDesc("SUM", "l_price_dec")),
        ),
    )
    inst = CubeBuilder(spark, model, cube, str(tmp_path)).build()

    # every layout, including children built FROM parents, keeps the pinned
    # precision (19+10, 4) instead of widening per build layer
    for cuboid_id in inst.layouts:
        df = inst.layout_df(spark, inst.scheduler.cuboids[cuboid_id])
        dt = df.schema["sum_dec"].dataType
        assert isinstance(dt, DecimalType)
        assert (dt.precision, dt.scale) == (29, 4), (cuboid_id, dt)

    # and the values are exact: smallest cuboid total == source total
    total = (
        spark.table("lineitem_dec").agg(F.sum("l_price_dec").alias("s")).collect()[0].s
    )
    small = inst.scheduler.find_best_match(frozenset(("l_returnflag",)))
    cube_total = (
        inst.layout_df(spark, small).agg(F.sum("sum_dec").alias("s")).collect()[0].s
    )
    assert total == cube_total


#: the source types: p = 19 keeps the stored SUM at decimal(29, 4); p = 30
#: caps it at decimal(38, 4), so the AVG type must come from the source
DEC_TYPES = {"l_price_dec": DecimalType(19, 4), "l_price_wide": DecimalType(30, 4)}

DEC_READS = {
    "join_path": """select l_returnflag, sum(l_price_dec) as s,
            avg(l_price_dec) as a, sum(l_price_wide) as sw,
            avg(l_price_wide) as aw, count(*) as n
        from lineitem_dec group by l_returnflag""",
    "bag_fold": """select l_returnflag, count(distinct l_partkey) as nd,
            sum(l_price_dec) as s, avg(l_price_dec) as a,
            avg(l_price_wide) as aw, count(*) as n
        from lineitem_dec group by l_returnflag""",
    "rollup": """select l_returnflag, l_linestatus, sum(l_price_dec) as s,
            avg(l_price_dec) as a, avg(l_price_wide) as aw
        from lineitem_dec group by rollup(l_returnflag, l_linestatus)""",
    "global": """select sum(l_price_dec) as s, avg(l_price_dec) as a,
            avg(l_price_wide) as aw from lineitem_dec""",
}


@pytest.fixture(scope="module")
def dec_engine(spark, tmp_path_factory):
    register_views(spark, SF_SMOKE)
    spark.table("lineitem").select(
        "*", *[F.col("l_extendedprice").cast(t).alias(c) for c, t in DEC_TYPES.items()]
    ).createOrReplaceTempView("lineitem_dec")
    measures = [MeasureDesc("_count", FunctionDesc("COUNT"))]
    for c in DEC_TYPES:
        measures += [
            MeasureDesc(f"sum_{c}", FunctionDesc("SUM", c)),
            MeasureDesc(f"count_{c}", FunctionDesc("COUNT", c)),
        ]
    measures.append(
        MeasureDesc("bm_partkey", FunctionDesc("COUNT_DISTINCT", "l_partkey", "bitmap"))
    )
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("dec_route")))
    eng.add_model(DataModel(name="dec_route_model", fact_table="lineitem_dec"))
    eng.build_cube(
        CubeDesc(
            name="dec_route_cube",
            model_name="dec_route_model",
            dimensions=("l_returnflag", "l_linestatus"),
            measures=tuple(measures),
        )
    )
    return eng


def _same_as_pushdown(eng, sql: str) -> None:
    df = eng.sql(sql)
    assert eng.last_decision.kind == "routed", eng.last_decision.reason
    push = eng.pushdown(sql)
    assert df.dtypes == push.dtypes
    assert sorted(map(str, df.collect())) == sorted(map(str, push.collect()))


@pytest.mark.parametrize("name", sorted(DEC_READS))
def test_routed_decimal_sum_and_avg_match_pushdown(dec_engine, name):
    """A routed decimal SUM has pushdown's type, decimal(p + 10, s), and a
    routed decimal AVG is Spark's: decimal(p + 4, s + 4) with the same
    digits, on the join path, the bag fold and per grouping set."""
    _same_as_pushdown(dec_engine, DEC_READS[name])
    if name == "bag_fold":
        assert dec_engine.last_route.bitmap_distinct


@pytest.fixture(scope="module")
def dec_hybrid(spark, tmp_path_factory):
    import datetime as dt

    rows = [
        (f"k{i % 3}", dt.date(2024, 3, day), day * 1000 + i * 7.3125)
        for day in (1, 2, 3, 4)
        for i in range(7)
    ]
    df = spark.createDataFrame(rows, "k string, d date, v double").select(
        "k", "d", *[F.col("v").cast(t).alias(c) for c, t in DEC_TYPES.items()]
    )
    df.createOrReplaceTempView("dec_hy_fact")
    rt_dir = str(tmp_path_factory.mktemp("dec_hy_rt"))
    df.withColumn("__segment__", F.date_format("d", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("__segment__").parquet(rt_dir)
    measures = [MeasureDesc("_count", FunctionDesc("COUNT"))]
    for c in DEC_TYPES:
        measures += [
            MeasureDesc(f"sum_{c}", FunctionDesc("SUM", c)),
            MeasureDesc(f"count_{c}", FunctionDesc("COUNT", c)),
        ]
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("dec_hy_cubes")))
    eng.add_model(DataModel(name="dec_hy_model", fact_table="dec_hy_fact", partition_column="d"))
    eng.build_cube(
        CubeDesc(
            name="dec_hy_cube",
            model_name="dec_hy_model",
            dimensions=("k",),
            measures=tuple(measures),
            segment_granularity="day",
        ),
        segment_range=(None, "2024-03-02"),
    )
    eng.register_hybrid("dec_hy_cube", rt_dir, ts_col="d")
    return eng


@pytest.mark.parametrize(
    "sql",
    [
        """select k, sum(l_price_dec) as s, avg(l_price_dec) as a,
               avg(l_price_wide) as aw, count(*) as n
           from dec_hy_fact group by k""",
        """select k, sum(l_price_wide) as sw, avg(l_price_dec) as a
           from dec_hy_fact group by rollup(k)""",
    ],
    ids=["grouped", "rollup"],
)
def test_hybrid_decimal_sum_and_avg_match_pushdown(dec_hybrid, sql):
    _same_as_pushdown(dec_hybrid, sql)
    assert dec_hybrid.last_route.hybrid_tail
