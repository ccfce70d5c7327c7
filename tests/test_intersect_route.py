"""INTERSECT_COUNT bitmap routing tests (round-3 verdict item 1).

Reference semantics: ``kylin-spark-common/.../udaf/IntersectCount.scala`` +
``IntersectBitmapCounter.scala`` (per-cohort Roaring bitmaps, ``and``-merged),
routed by ``AggregatePlan.scala:68-92``; corpus shape
``kylin-it/src/test/resources/query/sql_intersect_count/query00.sql``.

Adversarial cases: a group with an EMPTY intersection, a group missing one
cohort entirely, the conditional-distinct spelling with IN-lists, and plan
shape (the routed query reads the cuboid layout, never the fact view).
"""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.metadata import (
    CubeDesc,
    DataModel,
    FunctionDesc,
    MeasureDesc,
)
from kylin_on_parquet_v2_spark.query.engine import OlapEngine

EV_MODEL = DataModel(name="ev_star", fact_table="ev_f")

EV_CUBE = CubeDesc(
    name="ev_cube",
    model_name="ev_star",
    dimensions=("g", "etype"),
    measures=(
        MeasureDesc("_cnt", FunctionDesc("COUNT")),
        MeasureDesc("bm_uid", FunctionDesc("COUNT_DISTINCT", "uid", "bitmap")),
        # a second bag column: distinct outputs over two bags take the join path
        MeasureDesc("bm_sid", FunctionDesc("COUNT_DISTINCT", "sid", "bitmap")),
    ),
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    # group x: uid 1,2 view; uid 2 click  -> view∩click = {2}
    # group y: uid 3 view; uid 4 click    -> view∩click = {}   (empty)
    # group z: uid 5 view only            -> click cohort absent entirely
    # sid: a second distinct column, all NULL in group y
    rows = [
        ("x", "view", 1, 10),
        ("x", "view", 2, 10),
        ("x", "click", 2, 11),
        ("x", "view", 1, 12),  # duplicate event must not double-count
        ("y", "view", 3, None),
        ("y", "click", 4, None),
        ("z", "view", 5, 13),
    ]
    spark.createDataFrame(
        rows, "g string, etype string, uid int, sid int"
    ).createOrReplaceTempView("ev_f")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("ic_cubes")))
    eng.add_model(EV_MODEL)
    eng.build_cube(EV_CUBE)
    return eng


def test_grouped_intersect_count_routes_and_matches(engine):
    df = engine.sql(
        """
        select g, intersect_count(uid, etype, array('view','click')) as vc
        from ev_f group by g order by g
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_intersect, route
    got = {r.g: r.vc for r in df.collect()}
    # empty intersection and missing cohort must both coalesce to 0
    assert got == {"x": 1, "y": 0, "z": 0}


def test_global_intersect_count_routes(engine):
    df = engine.sql(
        "select intersect_count(uid, etype, array('view','click')) as vc from ev_f",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.bitmap_intersect
    assert df.collect()[0].vc == 1  # only uid 2 views AND clicks

    # single cohort degenerates to a plain cohort distinct count
    df1 = engine.sql(
        "select intersect_count(uid, etype, array('view')) as v from ev_f",
        validate=True,
    )
    assert engine.last_route is not None
    assert df1.collect()[0].v == 4  # uids 1,2,3,5


def test_conditional_distinct_routes_on_bitmap(engine):
    df = engine.sql(
        """
        select count(distinct case when etype = 'view' then uid end) as vu,
               count(distinct case when etype in ('view','click') then uid end) as any_u
        from ev_f
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_cond, route
    row = df.collect()[0]
    assert (row.vu, row.any_u) == (4, 5)


def test_grouped_conditional_distinct(engine):
    df = engine.sql(
        """
        select g, count(distinct case when etype = 'view' then uid end) as vu
        from ev_f group by g order by g
        """,
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.bitmap_cond
    assert {r.g: r.vu for r in df.collect()} == {"x": 2, "y": 1, "z": 1}


def test_routed_plan_reads_layout_not_fact(engine):
    df = engine.sql(
        "select intersect_count(uid, etype, array('view','click')) as vc from ev_f"
    )
    assert engine.last_route is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the routed plan scans parquet layouts (cuboid=...), never the ev_f
    # in-memory fact view, and never invokes the pandas UDAF fallback
    assert "cuboid=" in plan
    assert "ArrowAggregatePython" not in plan and "intersect_count" not in plan


def test_unroutable_intersect_falls_back_to_pushdown(engine, spark):
    # filter column not a dimension -> conservative pushdown, same answer
    df = engine.sql(
        "select intersect_count(etype, uid, array(1, 2)) as n from ev_f"
    )
    assert engine.last_route is None  # no bitmap measure on etype
    # cohorts: uid=1 -> {view}; uid=2 -> {view, click}; intersection = {view}
    assert df.collect()[0].n == 1


def test_grouped_intersect_value_routes_and_matches(engine):
    """INTERSECT_VALUE (BitmapIntersectValueAggFunc.java /
    RetentionPartialResult.valueResult parity): the member VALUES in every
    cohort, "[v1,v2,...]" sorted, "" when empty — decoded back through the
    measure's global dictionary on the routed path."""
    df = engine.sql(
        """
        select g, intersect_value(uid, etype, array('view','click')) as vc
        from ev_f group by g order by g
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_intersect_value, route
    got = {r.g: r.vc for r in df.collect()}
    # empty intersection and missing cohort both render the empty string
    assert got == {"x": "[2]", "y": "", "z": ""}


def test_global_intersect_value_routes(engine):
    df = engine.sql(
        "select intersect_value(uid, etype, array('view','click')) as vc from ev_f",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.bitmap_intersect_value
    assert df.collect()[0].vc == "[2]"

    # single cohort degenerates to the sorted cohort membership
    df1 = engine.sql(
        "select intersect_value(uid, etype, array('view')) as v from ev_f",
        validate=True,
    )
    assert df1.collect()[0].v == "[1,2,3,5]"


def test_global_empty_intersect_value_is_empty_string(engine):
    # keyless agg still emits one row; valueResult contract says "" not "[]"
    df = engine.sql(
        "select intersect_value(uid, etype, array('click','absent')) as v from ev_f",
        validate=True,
    )
    assert df.collect()[0].v == ""


def test_intersect_value_decodes_across_word_chunks(spark, tmp_path):
    """>64 distinct members force the word-bag bitmap onto multiple 64-bit
    chunks — the decode (bit -> bkt*64+i -> dictionary value) must recover
    every member exactly, and sort by the decoded VALUE, not the
    dictionary id (the two orders differ: dids are assigned in hash-bucket
    order, uids here are descending strings of varying magnitude)."""
    uids = list(range(1000, 1070)) + [5, 42]
    rows = [("view", u) for u in uids] + [("click", u) for u in uids if u % 3 == 0]
    spark.createDataFrame(rows, "etype string, uid int").createOrReplaceTempView(
        "ev_wide"
    )
    eng = OlapEngine(spark, storage_dir=str(tmp_path / "ivw"))
    eng.add_model(DataModel(name="evw_star", fact_table="ev_wide"))
    eng.build_cube(
        CubeDesc(
            name="evw_cube",
            model_name="evw_star",
            dimensions=("etype",),
            measures=(
                MeasureDesc("_cnt", FunctionDesc("COUNT")),
                MeasureDesc("bm_uid", FunctionDesc("COUNT_DISTINCT", "uid", "bitmap")),
            ),
        )
    )
    df = eng.sql(
        "select intersect_value(uid, etype, array('view','click')) as v from ev_wide",
        validate=True,
    )
    assert eng.last_route is not None and eng.last_route.bitmap_intersect_value
    expect = "[" + ",".join(str(u) for u in sorted(u for u in uids if u % 3 == 0)) + "]"
    assert df.collect()[0].v == expect


def test_or_cohort_union_semantics(engine):
    """A '|'-separated cohort is the UNION of its member bitmaps
    (RetentionPartialResult.FILTER_DELIMETER / childKeyToParentKey,
    kylin.query.intersect.separator default '|') — on both the routed
    word-bag path and the pandas pushdown twin."""
    df = engine.sql(
        "select intersect_count(uid, etype, array('view|click','click')) as n, "
        "intersect_value(uid, etype, array('view|click','click')) as v from ev_f",
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_intersect and route.bitmap_intersect_value
    row = df.collect()[0]
    # 'view|click' = {1,2,3,5} U {2,4} = {1,2,3,4,5}; ∩ 'click' = {2,4}
    assert (row.n, row.v) == (2, "[2,4]")


def test_or_cohort_grouped(engine):
    df = engine.sql(
        """
        select g, intersect_count(uid, etype, array('view|click')) as n
        from ev_f group by g order by g
        """,
        validate=True,
    )
    assert engine.last_route is not None
    assert {r.g: r.n for r in df.collect()} == {"x": 2, "y": 2, "z": 1}


def test_intersect_value_under_rollup_routes(engine):
    """Routed (non-hybrid) grouping sets: each set re-ORs cohort bags at its
    own grain before the bit_and, so the grand total is the coarser
    intersection, not a union of per-group strings."""
    df = engine.sql(
        """
        select g, intersect_value(uid, etype, array('view','click')) as vc
        from ev_f group by rollup(g) order by g
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_intersect_value, route
    rows = {r.g: r.vc for r in df.collect()}
    assert rows == {"x": "[2]", "y": "", "z": "", None: "[2]"}


def _join_path(df) -> bool:
    """The answer joins per-bag counts onto its groups instead of
    folding one bag column into a single two-level aggregation."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Join" in plan and "posexplode" not in plan


def test_intersect_count_takes_the_join_path(engine):
    """INTERSECT_COUNT has no one-pass form: each of its outputs keeps its
    own count frame, joined onto the set's groups."""
    df = engine.sql(
        """
        select g, intersect_count(uid, etype, array('view','click')) as vc,
               intersect_count(uid, etype, array('view')) as v
        from ev_f group by g
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_intersect, route
    assert _join_path(df)
    assert {r.g: (r.vc, r.v) for r in df.collect()} == {
        "x": (1, 2), "y": (0, 1), "z": (0, 1),
    }


def test_two_bag_columns_take_the_join_path(engine):
    """Distinct outputs over two bag columns keep one count frame per bag;
    a group whose second column is all NULL counts 0."""
    df = engine.sql(
        """
        select g, count(distinct uid) as nu, count(distinct sid) as ns
        from ev_f group by g
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_distinct == {"nu": "bm_uid", "ns": "bm_sid"}
    assert _join_path(df)
    assert df.dtypes == engine.pushdown("select g, count(distinct uid) as nu, "
                                        "count(distinct sid) as ns from ev_f group by g").dtypes
    assert {r.g: (r.nu, r.ns) for r in df.collect()} == {
        "x": (2, 3), "y": (2, 0), "z": (1, 1),
    }


def test_cohort_members_parsing():
    """'|' splitting applies to string literals only, trims members, drops
    empties (StringUtil.splitAndTrim parity), and leaves numerics alone."""
    from kylin_on_parquet_v2_spark.cube.dictionary import cohort_members

    assert cohort_members("'view|click'") == ["'view'", "'click'"]
    assert cohort_members("' view | click '") == ["'view'", "'click'"]
    assert cohort_members("'view||'") == ["'view'"]
    assert cohort_members("'view'") == ["'view'"]
    assert cohort_members("42") == ["42"]
    assert cohort_members("'A|N'") == ["'A'", "'N'"]
