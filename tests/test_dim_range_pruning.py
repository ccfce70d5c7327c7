"""Dimension-range segment pruning (reference SegmentPruner.check +
DimensionRangeInfo / CubeSegment.dimensionRangeInfoMap, recorded by
UpdateCubeInfoAfterBuildStep): a filter on ANY dimension — not just the
partition column — prunes segments whose recorded [min, max] provably
cannot satisfy it. The reference ships a dedicated SSB cube descriptor for
this (cube_desc/ssb_cube_with_dimention_range.json)."""

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
from tests.conftest import SF_SMOKE

#: o_month is perfectly segment-correlated (month-granularity segments hold
#: exactly one month value), o_bucket is a coarse int with partial overlap,
#: o_orderpriority is a string dim present in every segment (never prunable)
_VIEW = """
CREATE OR REPLACE TEMPORARY VIEW orders_m AS
SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice, o_orderdate,
       month(o_orderdate) AS o_month,
       cast(year(o_orderdate) - 1995 as int) AS o_bucket
FROM orders
"""

MODEL = DataModel(
    name="orders_m_star", fact_table="orders_m", partition_column="o_orderdate"
)

CUBE = CubeDesc(
    name="orders_m_cube",
    model_name="orders_m_star",
    dimensions=("o_orderpriority", "o_month", "o_bucket"),
    measures=(
        MeasureDesc("_count", FunctionDesc("COUNT")),
        MeasureDesc("sum_price", FunctionDesc("SUM", "o_totalprice")),
        MeasureDesc("count_price", FunctionDesc("COUNT", "o_totalprice")),
    ),
    segment_granularity="month",
)


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("dimrange")))
    e.register_sources(SF_SMOKE)
    spark.sql(_VIEW)
    e.add_model(MODEL)
    e.build_cube(CUBE)
    return e


def test_ranges_recorded_per_segment(eng):
    inst = eng.cubes["orders_m_cube"]
    assert inst.segmented and inst.dim_ranges
    for seg, ranges in inst.dim_ranges.items():
        # month-granularity segments hold exactly one month value
        mn, mx = ranges["o_month"]
        assert mn == mx == int(seg[5:7])
        assert set(ranges) == {"o_orderpriority", "o_month", "o_bucket"}


def test_equality_on_correlated_dim_prunes_other_months(eng, spark):
    import re

    sql = """
        select o_orderpriority, sum(o_totalprice) as total, count(*) as n
        from orders_m where o_month = 3 group by o_orderpriority
    """
    eng.sql(sql, validate=True)  # routed == flat
    route = eng.last_route
    assert route is not None and route.cube == "orders_m_cube"
    inst = eng.cubes["orders_m_cube"]
    n_march = sum(1 for s in inst.dim_ranges if s[5:7] == "03")
    assert len(route.segment_reject) == len(inst.dim_ranges) - n_march
    assert all(s[5:7] != "03" for s in route.segment_reject)
    # and the rejects land as a PARTITION filter (metadata-level dir
    # pruning — whole segment dirs are never listed), not a row filter
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        df = eng.sql(sql)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    m = re.search(r"PartitionFilters: \[(.*?)\], PushedFilters", plan, re.S)
    assert m is not None, plan[:800]
    not_in = m.group(1)[m.group(1).find("NOT") :]
    assert not_in.startswith("NOT"), m.group(1)[:300]
    months = set(re.findall(r"\d{4}-(\d{2})-01", not_in))
    assert months == {f"{i:02d}" for i in range(1, 13)} - {"03"}


def test_range_prune_metric_counts(eng):
    before = eng.metrics["segments_range_pruned"]
    eng.sql("select count(*) as n from orders_m where o_month = 7")
    route = eng.last_route
    assert route is not None and route.segment_reject
    assert (
        eng.metrics["segments_range_pruned"] - before == len(route.segment_reject)
    )


def test_between_and_in_forms_prune(eng):
    eng.sql(
        """
        select sum(o_totalprice) as total from orders_m
        where o_month between 2 and 3
        """,
        validate=True,
    )
    r1 = eng.last_route
    assert r1 is not None and r1.segment_reject
    assert all(s[5:7] not in ("02", "03") for s in r1.segment_reject)
    eng.sql(
        "select count(*) as n from orders_m where o_month in (1, 12)",
        validate=True,
    )
    r2 = eng.last_route
    assert r2 is not None and r2.segment_reject
    assert all(s[5:7] not in ("01", "12") for s in r2.segment_reject)


def test_string_dim_rejects_exactly_the_provably_disjoint(eng):
    """A string dim present in nearly every segment prunes only the
    segments whose recorded [min, max] genuinely excludes the literal
    (e.g. a sparse boundary month) — validate=True proves the answer is
    untouched either way."""
    eng.sql(
        """
        select o_month, count(*) as n from orders_m
        where o_orderpriority = '3-MEDIUM' group by o_month
        """,
        validate=True,
    )
    route = eng.last_route
    assert route is not None
    ranges = eng.cubes["orders_m_cube"].dim_ranges
    expect = [
        seg
        for seg, r in ranges.items()
        if not (r["o_orderpriority"][0] <= "3-MEDIUM" <= r["o_orderpriority"][1])
    ]
    assert sorted(route.segment_reject) == sorted(expect)


def test_unknown_segment_is_always_kept(eng):
    """NOT-IN semantics: a segment with no recorded ranges (e.g. freshly
    appended before the range job lands) can never be rejected."""
    inst = eng.cubes["orders_m_cube"]
    seg = sorted(inst.dim_ranges)[0]
    saved = inst.dim_ranges.pop(seg)
    try:
        eng._route_memo.clear()
        eng.sql(
            "select count(*) as n from orders_m where o_month = 6",
            validate=True,
        )
        route = eng.last_route
        assert route is not None
        assert seg not in route.segment_reject
    finally:
        inst.dim_ranges[seg] = saved
        eng._route_memo.clear()


def test_or_disables_dim_range_pruning(eng):
    eng.sql(
        """
        select count(*) as n from orders_m
        where o_month = 3 or o_month = 4
        """,
        validate=True,
    )
    route = eng.last_route
    if route is not None:  # routed or not, never a reject list under OR
        assert route.segment_reject == []


def test_merge_widens_ranges_and_stops_pruning(eng, spark):
    """After a merge the absorbed dir covers several months — the recomputed
    ranges must widen, and an o_month filter must keep the merged dir."""
    from kylin_on_parquet_v2_spark.cube.merge import merge_segments

    inst = eng.cubes["orders_m_cube"]
    before = eng.sql(
        "select count(*) as n from orders_m where o_month = 2"
    ).collect()[0]["n"]
    segs = sorted(inst.segments(spark))[:3]  # Jan..Mar of the first year
    merged = segs[0]
    merge_segments(spark, inst, segs, merged)
    eng._route_memo.clear()
    mn, mx = inst.dim_ranges[merged]["o_month"]
    assert (mn, mx) == (1, 3)
    eng.sql(
        "select count(*) as n from orders_m where o_month = 2", validate=True
    )
    route = eng.last_route
    assert route is not None
    assert merged not in route.segment_reject  # widened range keeps the dir
    after = eng.sql(
        "select count(*) as n from orders_m where o_month = 2"
    ).collect()[0]["n"]
    assert after == before


def test_nan_float_dim_records_no_bounds_and_never_prunes(spark, tmp_path):
    """Spark orders NaN above every double, so max() over a NaN-bearing
    segment returns NaN and every range check would go false — the segment
    would be wrongly pruned even though its NaN rows SATISFY `val > x`
    under Spark semantics. Such segments must record no bounds for the dim."""
    rows = [
        (1, 5.0, "2020-01-05"),
        (2, float("nan"), "2020-01-06"),
        (3, 7.0, "2020-02-05"),
    ]
    spark.createDataFrame(rows, "id long, val double, d string").selectExpr(
        "id", "val", "cast(d as timestamp) as d"
    ).createOrReplaceTempView("nanfact")
    eng = OlapEngine(spark, storage_dir=str(tmp_path / "nan_cubes"))
    eng.add_model(
        DataModel(name="nan_star", fact_table="nanfact", partition_column="d")
    )
    eng.build_cube(
        CubeDesc(
            name="nan_cube",
            model_name="nan_star",
            dimensions=("val",),
            measures=(MeasureDesc("_count", FunctionDesc("COUNT")),),
            segment_granularity="month",
        )
    )
    inst = eng.cubes["nan_cube"]
    assert "val" not in inst.dim_ranges["2020-01-01"]  # NaN present: no bounds
    assert inst.dim_ranges["2020-02-01"]["val"] == [7.0, 7.0]
    eng.sql("select count(*) as n from nanfact where val > 5", validate=True)
    route = eng.last_route
    assert route is not None
    assert "2020-01-01" not in route.segment_reject


# --- typed dims: DATE / TIMESTAMP / DECIMAL (round-9 verdict item 2) -------

#: o_cdate is a non-partition DATE dim (order date + 3 days: correlated with
#: the month segments but straddling boundaries), o_mts a TIMESTAMP dim with
#: one value per segment, o_mdec a DECIMAL dim with one value per segment
_VIEW_T = """
CREATE OR REPLACE TEMPORARY VIEW orders_t AS
SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate,
       date_add(cast(o_orderdate as date), 3) AS o_cdate,
       date_trunc('month', o_orderdate) AS o_mts,
       cast(month(o_orderdate) * 100 as decimal(10,2)) AS o_mdec
FROM orders
"""

MODEL_T = DataModel(
    name="orders_t_star", fact_table="orders_t", partition_column="o_orderdate"
)

CUBE_T = CubeDesc(
    name="orders_t_cube",
    model_name="orders_t_star",
    dimensions=("o_orderpriority", "o_cdate", "o_mts", "o_mdec"),
    measures=(
        MeasureDesc("_count", FunctionDesc("COUNT")),
        MeasureDesc("sum_price", FunctionDesc("SUM", "o_totalprice")),
        MeasureDesc("count_price", FunctionDesc("COUNT", "o_totalprice")),
    ),
    segment_granularity="month",
)


@pytest.fixture(scope="module")
def eng_t(spark, tmp_path_factory):
    e = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("dimrange_t")))
    e.register_sources(SF_SMOKE)
    spark.sql(_VIEW_T)
    e.add_model(MODEL_T)
    e.build_cube(CUBE_T)
    return e


def test_typed_dims_record_serialized_ranges(eng_t):
    inst = eng_t.cubes["orders_t_cube"]
    assert inst.dim_range_types == {
        "o_cdate": "date",
        "o_mts": "timestamp",
        "o_mdec": "decimal",
    }
    for seg, ranges in inst.dim_ranges.items():
        y, m = seg[:4], seg[5:7]
        # date bounds: ISO strings; the +3-day shift keeps the min inside
        # the month (>= the 4th) and lets the max straddle into the next
        mn, mx = ranges["o_cdate"]
        assert isinstance(mn, str) and isinstance(mx, str)
        assert mn <= mx
        assert mn >= f"{y}-{m}-04"  # earliest possible: month's 1st + 3 days
        # timestamp dim holds exactly the month start
        assert ranges["o_mts"][0] == ranges["o_mts"][1] == f"{y}-{m}-01 00:00:00"
        # decimal dim holds exactly month*100, serialized exactly
        assert ranges["o_mdec"][0] == ranges["o_mdec"][1] == f"{int(m) * 100}.00"


def test_date_dim_filter_prunes_with_partition_filter(eng_t, spark):
    import re

    sql = """
        select o_orderpriority, count(*) as n from orders_t
        where o_cdate = '1995-06-15' group by o_orderpriority
    """
    eng_t.sql(sql, validate=True)  # routed == flat
    route = eng_t.last_route
    assert route is not None and route.cube == "orders_t_cube"
    inst = eng_t.cubes["orders_t_cube"]
    # expected rejects straight from the recorded ISO bounds
    expect = [
        seg
        for seg, r in inst.dim_ranges.items()
        if "o_cdate" in r
        and not (r["o_cdate"][0] <= "1995-06-15" <= r["o_cdate"][1])
    ]
    assert sorted(route.segment_reject) == sorted(expect)
    assert len(expect) >= len(inst.dim_ranges) - 2  # at most June+May survive
    # and the rejects land as a PARTITION filter (metadata-level dir pruning)
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        df = eng_t.sql(sql)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    m = re.search(r"PartitionFilters: \[(.*?)\], PushedFilters", plan, re.S)
    assert m is not None, plan[:800]
    assert "NOT" in m.group(1), m.group(1)[:300]


def test_date_dim_between_prunes(eng_t):
    eng_t.sql(
        """
        select count(*) as n from orders_t
        where o_cdate between '1995-03-10' and '1995-03-20'
        """,
        validate=True,
    )
    route = eng_t.last_route
    assert route is not None and route.segment_reject
    # every rejected segment's recorded date range is provably outside
    inst = eng_t.cubes["orders_t_cube"]
    for seg in route.segment_reject:
        mn, mx = inst.dim_ranges[seg]["o_cdate"]
        assert mx < "1995-03-10" or mn > "1995-03-20"


def test_timestamp_dim_filter_prunes(eng_t):
    eng_t.sql(
        """
        select count(*) as n from orders_t
        where o_mts = timestamp '1995-03-01 00:00:00'
        """,
        validate=True,
    )
    route = eng_t.last_route
    assert route is not None
    inst = eng_t.cubes["orders_t_cube"]
    survivors = set(inst.dim_ranges) - set(route.segment_reject)
    assert survivors == {"1995-03-01"}


def test_decimal_dim_filter_prunes_exactly(eng_t):
    eng_t.sql(
        "select count(*) as n from orders_t where o_mdec = 300.00",
        validate=True,
    )
    route = eng_t.last_route
    assert route is not None
    inst = eng_t.cubes["orders_t_cube"]
    survivors = set(inst.dim_ranges) - set(route.segment_reject)
    assert survivors == {s for s in inst.dim_ranges if s[5:7] == "03"}
    # IN-list form
    eng_t.sql(
        "select count(*) as n from orders_t where o_mdec in (100.00, 1200.00)",
        validate=True,
    )
    r2 = eng_t.last_route
    assert r2 is not None and r2.segment_reject
    assert all(s[5:7] not in ("01", "12") for s in r2.segment_reject)


def test_typed_ranges_survive_meta_roundtrip(eng_t, spark):
    from kylin_on_parquet_v2_spark.cube.build import CubeInstance

    inst = eng_t.cubes["orders_t_cube"]
    inst.save_meta()
    reloaded = CubeInstance.load(CUBE_T, MODEL_T, inst.storage_dir, spark)
    assert reloaded is not None
    assert reloaded.dim_range_types == inst.dim_range_types
    assert reloaded.dim_ranges == inst.dim_ranges


def test_date_dim_prune_dual_scale(spark, tmp_path):
    """Round-9 verdict item 2 'done' bar: the non-partition date-dim prune
    case dual-executed and verified at BOTH sf0.001 and sf0.01."""
    from tests.conftest import SF_CORRECTNESS

    for i, sf in enumerate((SF_SMOKE, SF_CORRECTNESS)):
        e = OlapEngine(spark, storage_dir=str(tmp_path / f"sf{i}"))
        e.register_sources(sf)
        spark.sql(_VIEW_T)
        e.add_model(MODEL_T)
        e.build_cube(CUBE_T)
        e.sql(
            "select count(*) as n from orders_t where o_cdate = '1995-06-15'",
            validate=True,  # routed == flat at this scale
        )
        route = e.last_route
        assert route is not None and route.segment_reject, sf
