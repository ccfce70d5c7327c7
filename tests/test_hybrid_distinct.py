"""Mergeable-distinct across the hybrid batch/realtime boundary (round-6
verdict item 1; reference parity: realtime cubes dictionary-encode at ingest
and serve distinct across the split — stream-core RecordsAggregator +
NGlobalDictionaryV2 versioned append).

The split contract makes double counting impossible for additive measures;
these tests prove the DISTINCT family inherits that: batch word-bags and
tail word-bags (encoded through an in-memory extension of the frozen global
dictionary) merge by bit_or — associative, commutative, IDEMPOTENT — so a
user seen on BOTH sides of the boundary counts once, and values never seen
by the batch build get fresh appended ids."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.metadata import (
    CubeDesc,
    DataModel,
    FunctionDesc,
    MeasureDesc,
)
from kylin_on_parquet_v2_spark.query.engine import OlapEngine

MODEL = DataModel(name="hd_star", fact_table="hd_fact", partition_column="d")

CUBE = CubeDesc(
    name="hd_cube",
    model_name="hd_star",
    dimensions=("etype", "d"),
    measures=(
        MeasureDesc("_count", FunctionDesc("COUNT")),
        MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
        MeasureDesc("bm_user", FunctionDesc("COUNT_DISTINCT", "user_id", "bitmap")),
        MeasureDesc("hist_v", FunctionDesc("PERCENTILE_APPROX", "v", "hist(64,0,20)")),
    ),
    segment_granularity="day",
)

SPLIT = "2024-03-02"  # batch owns days 1-2; realtime tail serves days 3-4


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    rows = []
    # days 1-2 (batch side): users 0-9 across view/click
    for day in (1, 2):
        for u in range(10):
            rows.append(
                ("view" if u % 2 == 0 else "click", dt.date(2024, 3, day), u, 1.0)
            )
    # day 3-4 (tail): users 5-9 RE-APPEAR (overlap with batch => idempotence
    # matters) and users 100-104 are NEW (dictionary extension matters)
    for day in (3, 4):
        for u in [5, 6, 7, 8, 9, 100, 101, 102, 103, 104]:
            rows.append(
                ("view" if u % 2 == 0 else "purchase", dt.date(2024, 3, day), u, 2.0)
            )
    df = spark.createDataFrame(rows, "etype string, d date, user_id long, v double")
    df.createOrReplaceTempView("hd_fact")
    rt_dir = str(tmp_path_factory.mktemp("hd_rt"))
    df.withColumn("__segment__", F.date_format("d", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("__segment__").parquet(rt_dir)

    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("hd_cubes")))
    eng.add_model(MODEL)
    eng.build_cube(CUBE, segment_range=(None, SPLIT))
    eng.register_hybrid("hd_cube", rt_dir, ts_col="d")
    return eng


def _pushdown(engine, sql):
    return {tuple(r) for r in engine.pushdown(sql).collect()}


def test_hybrid_distinct_grouped_matches_pushdown(engine):
    sql = (
        "select etype, count(distinct user_id) as u, sum(v) as sv "
        "from hd_fact group by etype"
    )
    got = {tuple(r) for r in engine.sql(sql).collect()}
    route = engine.last_route
    assert route is not None and route.hybrid_tail, route
    assert route.bitmap_distinct, route
    assert got == _pushdown(engine, sql)


def test_hybrid_distinct_no_double_count_on_overlap(engine):
    """Users 5-9 exist on BOTH sides of the boundary; bit_or idempotence
    must count each once. Global: 10 batch users + 5 new tail users = 15."""
    df = engine.sql("select count(distinct user_id) as u from hd_fact")
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    assert df.collect()[0]["u"] == 15


def test_hybrid_distinct_new_tail_values_extend_dictionary(engine):
    """Users 100-104 never existed at batch-build time (no dictionary id);
    the tail encoding must append ids, not drop them as unknown."""
    sql = (
        "select etype, count(distinct user_id) as u from hd_fact "
        "where etype = 'purchase' group by etype"
    )
    got = {tuple(r) for r in engine.sql(sql).collect()}
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    # purchase only happens in the tail: users 5,7,9,101,103
    assert got == {("purchase", 5)}


def test_hybrid_conditional_distinct_matches_pushdown(engine):
    sql = (
        "select count(distinct case when etype = 'view' then user_id end) as vu, "
        "count(distinct case when etype = 'purchase' then user_id end) as pu "
        "from hd_fact"
    )
    got = engine.sql(sql).collect()[0]
    route = engine.last_route
    assert route is not None and route.hybrid_tail and route.bitmap_cond
    exp = engine.pushdown(sql).collect()[0]
    assert (got["vu"], got["pu"]) == (exp["vu"], exp["pu"])


def test_hybrid_intersect_count_across_boundary(engine):
    """view ∩ purchase spans the split: view-membership comes mostly from
    the batch side, purchase-membership exists ONLY in the tail."""
    sql = (
        "select intersect_count(user_id, etype, array('view','purchase')) as vp "
        "from hd_fact"
    )
    df = engine.sql(sql)
    route = engine.last_route
    assert route is not None and route.hybrid_tail and route.bitmap_intersect
    # view users: evens of 0-9 plus 6,8,100,102,104 (tail) = {0,2,4,6,8,100,102,104}
    # purchase users: {5,7,9,101,103} -> intersection is empty
    assert df.collect()[0]["vp"] == 0
    # odd users view nothing; flip cohorts to get a non-trivial intersection
    sql2 = (
        "select intersect_count(user_id, etype, array('click','purchase')) as cp "
        "from hd_fact"
    )
    got = engine.sql(sql2).collect()[0]["cp"]
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    # click users (batch): odds 1,3,5,7,9; purchase users (tail): 5,7,9,101,103
    assert got == 3


def test_hybrid_distinct_only_group_universe_complete(engine):
    """A distinct-only grouped query must still emit every group (no plain
    aggregate frame to anchor the group universe)."""
    sql = "select etype, count(distinct user_id) as u from hd_fact group by etype"
    got = {tuple(r) for r in engine.sql(sql).collect()}
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    assert got == _pushdown(engine, sql)
    assert {g for g, _ in got} == {"view", "click", "purchase"}


def test_hybrid_distinct_with_filter_and_having(engine):
    sql = (
        "select etype, count(distinct user_id) as u from hd_fact "
        "where d >= date '2024-03-02' group by etype having u > 2 "
        "order by etype"
    )
    got = [tuple(r) for r in engine.sql(sql).collect()]
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    exp = [tuple(r) for r in engine.pushdown(sql).collect()]
    assert got == exp


def test_hybrid_hidden_distinct_in_having(engine):
    """HAVING over a NON-selected count(distinct ...) creates a hidden
    aggregate output — it must flow through the bag pipeline like a visible
    one and be dropped after the HAVING filter."""
    sql = (
        "select etype, sum(v) as sv from hd_fact group by etype "
        "having count(distinct user_id) > 5 order by etype"
    )
    got = [tuple(r) for r in engine.sql(sql).collect()]
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    exp = [tuple(r) for r in engine.pushdown(sql).collect()]
    assert got == exp and len(got) > 0


def test_hybrid_hll_distinct_across_boundary(engine, spark, tmp_path_factory):
    """hllc approx-distinct serves across the split under the engine's
    approx_distinct opt-in: stored batch sketches union (register-max,
    idempotent) with sketches built over the tail; overlap users count
    once and the estimate lands within HLL tolerance of the truth (15)."""
    cube = CubeDesc(
        name="hh_cube",
        model_name="hd_star",
        dimensions=("etype", "d"),
        measures=(
            MeasureDesc("_count", FunctionDesc("COUNT")),
            MeasureDesc(
                "hll_user", FunctionDesc("COUNT_DISTINCT", "user_id", "hllc(14)")
            ),
        ),
        segment_granularity="day",
    )
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("hh_cubes")))
    eng.add_model(MODEL)
    eng.build_cube(cube, segment_range=(None, SPLIT))
    # reuse the module fixture's realtime store via the first engine
    rt_dir = engine.hybrids["hd_cube"].realtime_dir
    eng.register_hybrid("hh_cube", rt_dir, ts_col="d")

    df = eng.sql(
        "select count(distinct user_id) as u from hd_fact", approx_distinct=True
    )
    route = eng.last_route
    assert route is not None and route.hybrid_tail and route.approx_distinct, route
    est = df.collect()[0]["u"]
    assert abs(est - 15) <= max(2, 0.05 * 15), est  # 10 batch + 5 new tail users

    # grouped form too
    df2 = eng.sql(
        "select etype, count(distinct user_id) as u from hd_fact group by etype",
        approx_distinct=True,
    )
    assert eng.last_route is not None and eng.last_route.hybrid_tail
    got = {r["etype"]: r["u"] for r in df2.collect()}
    exact = {
        r["etype"]: r["u"]
        for r in eng.pushdown(
            "select etype, count(distinct user_id) as u from hd_fact group by etype"
        ).collect()
    }
    assert set(got) == set(exact)
    for k in got:
        assert abs(got[k] - exact[k]) <= max(2, 0.05 * exact[k]), (k, got, exact)


def test_hybrid_rollup_across_boundary(engine):
    """GROUPING SETS across the split: partials merge once at the finest
    grain, every set derives from the merged frame — additive re-agg plus
    per-set re-counts of the un-finalized word bags, with GROUPING()
    indicators and typed NULL padding. Must equal pushdown exactly."""
    sql = (
        "select etype, grouping(etype) as g_e, sum(v) as sv, count(*) as n, "
        "count(distinct user_id) as u "
        "from hd_fact group by rollup(etype)"
    )
    got = {tuple(r) for r in engine.sql(sql).collect()}
    route = engine.last_route
    assert route is not None and route.hybrid_tail, route
    assert route.bitmap_distinct, route
    exp = {tuple(r) for r in engine.pushdown(sql).collect()}
    assert got == exp and len(got) == 4  # 3 etypes + grand total


def test_hybrid_two_level_rollup_across_boundary(engine):
    sql = (
        "select etype, d, grouping(etype) as g_e, grouping(d) as g_d, "
        "sum(v) as sv, count(distinct user_id) as u "
        "from hd_fact group by rollup(etype, d)"
    )
    got = {tuple(r) for r in engine.sql(sql).collect()}
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    exp = {tuple(r) for r in engine.pushdown(sql).collect()}
    assert got == exp


def test_hybrid_percentile_across_boundary(engine):
    """Percentile from the stored histogram sketch across the split: batch
    layout histograms + a histogram built over the tail merge by bin-wise
    sum (additive over the disjoint split), so the answer equals the
    histogram over the whole table — within the declared bin width."""
    sql = (
        "select etype, percentile_approx(v, 0.5) as p50, sum(v) as sv "
        "from hd_fact group by etype"
    )
    df = engine.sql(sql)
    route = engine.last_route
    assert route is not None and route.hybrid_tail, route
    got = {r["etype"]: (r["p50"], r["sv"]) for r in df.collect()}
    exp = {r["etype"]: (r["p50"], r["sv"]) for r in engine.pushdown(sql).collect()}
    bin_w = 20.0 / 64
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k][0] - exp[k][0]) <= bin_w, (k, got[k], exp[k])
        assert got[k][1] == exp[k][1]


def test_hybrid_percentile_under_rollup(engine):
    sql = (
        "select etype, grouping(etype) as g_e, "
        "percentile_approx(v, 0.9) as p90, count(distinct user_id) as u "
        "from hd_fact group by rollup(etype)"
    )
    df = engine.sql(sql)
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    got = {(r["etype"], r["g_e"]): (r["p90"], r["u"]) for r in df.collect()}
    exp = {
        (r["etype"], r["g_e"]): (r["p90"], r["u"])
        for r in engine.pushdown(sql).collect()
    }
    bin_w = 20.0 / 64
    assert set(got) == set(exp) and len(got) == 4
    for k in got:
        assert abs(got[k][0] - exp[k][0]) <= bin_w, (k, got[k], exp[k])
        assert got[k][1] == exp[k][1]


def test_hybrid_rollup_percentiles_share_one_tail_sketch(engine, monkeypatch):
    """Two quantiles of one column under ROLLUP build the tail histogram
    ONCE: the merged sketch is per column, not per percentile output, and
    every grouping set re-merges that one state."""
    from kylin_on_parquet_v2_spark.cube import measures as M

    real = M.hist_build
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(M, "hist_build", counting)
    sql = (
        "select etype, grouping(etype) as g_e, percentile_approx(v, 0.5) as p50, "
        "percentile_approx(v, 0.9) as p90 from hd_fact group by rollup(etype)"
    )
    df = engine.sql(sql)
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    assert len(calls) == 1, calls
    got = {(r["etype"], r["g_e"]): (r["p50"], r["p90"]) for r in df.collect()}
    exp = {
        (r["etype"], r["g_e"]): (r["p50"], r["p90"])
        for r in engine.pushdown(sql).collect()
    }
    bin_w = 20.0 / 64
    assert set(got) == set(exp) and len(got) == 4
    for k in got:
        assert abs(got[k][0] - exp[k][0]) <= bin_w, (k, got[k], exp[k])
        assert abs(got[k][1] - exp[k][1]) <= bin_w, (k, got[k], exp[k])


def test_hybrid_group_only_query_serves_group_universe(engine):
    """A GROUP BY with no aggregate serves the batch∪tail group universe,
    groups seen only in the tail ("purchase") included."""
    sql = "select etype from hd_fact group by etype"
    got = {tuple(r) for r in engine.sql(sql).collect()}
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    assert got == _pushdown(engine, sql) and ("purchase",) in got


def test_hybrid_dim_distinct_across_boundary(engine):
    """COUNT DISTINCT on cuboid DIMENSIONS across the split: the layout's
    distinct dim tuples set-union the tail's rows — idempotent by
    definition, so boundary overlap can't double-count. Single- and
    multi-column forms, grouped, global, and under rollup."""
    for sql in (
        "select count(distinct etype) as ne from hd_fact",
        "select etype, count(distinct d) as nd, sum(v) as sv from hd_fact group by etype",
        "select count(distinct etype, d) as ned from hd_fact",
        (
            "select etype, grouping(etype) as g_e, count(distinct d) as nd "
            "from hd_fact group by rollup(etype)"
        ),
    ):
        got = {tuple(r) for r in engine.sql(sql).collect()}
        route = engine.last_route
        assert route is not None and route.hybrid_tail, (sql, route)
        exp = {tuple(r) for r in engine.pushdown(sql).collect()}
        assert got == exp, sql


def test_hybrid_derived_dimension_across_boundary(spark, tmp_path_factory):
    """Derived dimensions serve across the hybrid split: the tail carries
    the host FK, the same broadcast snapshot join recovers the lookup
    column before the tail partials, and grouping/filtering on the derived
    column matches pushdown."""
    import datetime as dt

    from kylin_on_parquet_v2_spark.metadata import JoinDesc, JoinTable

    dim = spark.createDataFrame(
        [(i, f"name{i % 3}") for i in range(6)], "dk long, dname string"
    )
    dim.createOrReplaceTempView("hdd_dim")
    rows = []
    for day in (1, 2, 3, 4):
        for i in range(12):
            rows.append((i % 6, dt.date(2024, 7, day), float(i + day)))
    fact = spark.createDataFrame(rows, "fk long, d date, v double")
    fact.createOrReplaceTempView("hdd_fact")
    rt_dir = str(tmp_path_factory.mktemp("hdd_rt"))
    from pyspark.sql import functions as SF

    fact.withColumn("__segment__", SF.date_format("d", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("__segment__").parquet(rt_dir)

    model = DataModel(
        name="hdd_star",
        fact_table="hdd_fact",
        partition_column="d",
        lookups=(JoinTable("hdd_dim", JoinDesc(("fk",), ("dk",), "inner")),),
    )
    cube = CubeDesc(
        name="hdd_cube",
        model_name="hdd_star",
        dimensions=("fk", "d"),
        measures=(
            MeasureDesc("_count", FunctionDesc("COUNT")),
            MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
        ),
        segment_granularity="day",
    )
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("hdd_cubes")))
    eng.add_model(model)
    eng.build_cube(cube, segment_range=(None, "2024-07-02"))
    eng.register_hybrid("hdd_cube", rt_dir, ts_col="d")

    sql = (
        "select dname, sum(v) as sv, count(*) as n "
        "from hdd_fact join hdd_dim on fk = dk "
        "group by dname order by dname"
    )
    got = [tuple(r) for r in eng.sql(sql).collect()]
    route = eng.last_route
    assert route is not None and route.hybrid_tail, route
    assert route.derived, "expected the derived-dimension recovery route"
    exp = [tuple(r) for r in eng.pushdown(sql).collect()]
    assert got == exp and len(got) == 3

    # filter on the derived column too
    sql2 = (
        "select dname, sum(v) as sv from hdd_fact join hdd_dim on fk = dk "
        "where dname = 'name1' group by dname"
    )
    got2 = [tuple(r) for r in eng.sql(sql2).collect()]
    assert eng.last_route is not None and eng.last_route.hybrid_tail
    assert got2 == [tuple(r) for r in eng.pushdown(sql2).collect()]


def test_hybrid_intersect_cohort_col_also_grouped(engine):
    """INTERSECT_COUNT whose cohort column is ALSO a group key: the grain
    dedupe must not duplicate the column (per-group intersection collapses
    to the group's own cohort — matches pushdown's conditional-distinct
    spelling)."""
    sql = (
        "select etype, intersect_count(user_id, etype, array('view','click')) as vc "
        "from hd_fact group by etype order by etype"
    )
    got = [tuple(r) for r in engine.sql(sql).collect()]
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    # within a single-etype group only ONE cohort has members, so every
    # per-group intersection is empty — the pushdown UDAF (use_cube=False)
    # is the semantic oracle
    exp = [tuple(r) for r in engine.sql(sql, use_cube=False).collect()]
    assert got == exp
    assert all(v == 0 for _, v in got)


def test_hybrid_distinct_tail_scan_pruned(engine):
    """The bag pipeline's realtime scan keeps the boundary PartitionFilter:
    pre-boundary segment dirs are pruned at listing time even though the
    tail also flows through the dictionary-encoding join."""
    df = engine.sql("select etype, count(distinct user_id) as u from hd_fact group by etype")
    assert engine.last_route is not None and engine.last_route.hybrid_tail
    plan = df._jdf.queryExecution().executedPlan().toString()
    rt_dir = engine.last_route.hybrid_tail
    pruned = [
        ln
        for ln in plan.splitlines()
        if rt_dir in ln or ("PartitionFilters" in ln and "__segment__" in ln)
    ]
    assert any(
        "PartitionFilters" in ln and "__segment__" in ln for ln in plan.splitlines()
    ), plan


def test_hybrid_persisted_dictionary_not_mutated(engine, spark):
    """Query-time tail encoding extends the dictionary IN MEMORY only —
    the persisted store keeps exactly the batch-build id space."""
    inst = engine.cubes["hd_cube"]
    before = {(r["value"], r["did"]) for r in inst.dict_df(spark, "user_id").collect()}
    engine.sql("select count(distinct user_id) as u from hd_fact").collect()
    after = {(r["value"], r["did"]) for r in inst.dict_df(spark, "user_id").collect()}
    assert before == after
    assert len(before) == 10  # only batch-side users 0-9 are persisted


def test_hybrid_intersect_value_across_boundary(engine):
    """INTERSECT_VALUE across the split: cohort bags merge by bit_or, the
    intersected bits decode through the EXTENDED dictionary — a member
    first seen in the tail (id appended at query time) must still decode
    to its value, and the empty intersection renders ""."""
    sql = (
        "select intersect_value(user_id, etype, array('click','purchase')) as cp "
        "from hd_fact"
    )
    df = engine.sql(sql)
    route = engine.last_route
    assert route is not None and route.hybrid_tail and route.bitmap_intersect_value
    # click (batch): 1,3,5,7,9; purchase (tail only): 5,7,9,101,103
    assert df.collect()[0]["cp"] == "[5,7,9]"

    # view ∩ purchase is empty -> "" through the hybrid path too
    empty = engine.sql(
        "select intersect_value(user_id, etype, array('view','purchase')) as vp "
        "from hd_fact"
    ).collect()[0]["vp"]
    assert empty == ""

    # tail-only members: purchase ∩ purchase|click union-cohort keeps the
    # appended-id users 101/103 decodable (extension, not the frozen dict)
    tail_only = engine.sql(
        "select intersect_value(user_id, etype, array('purchase')) as p from hd_fact"
    ).collect()[0]["p"]
    assert tail_only == "[5,7,9,101,103]"


def test_hybrid_intersect_value_under_rollup(engine):
    sql = (
        "select etype, intersect_value(user_id, etype, array('click','purchase')) as cp "
        "from hd_fact group by rollup(etype) order by etype"
    )
    df = engine.sql(sql)
    route = engine.last_route
    assert route is not None and route.hybrid_tail and route.bitmap_intersect_value
    rows = {r["etype"]: r["cp"] for r in df.collect()}
    # per-etype sets can't contain BOTH cohorts -> empty everywhere;
    # the grand total re-merges at the coarser grain -> {5,7,9}
    assert rows == {"view": "", "click": "", "purchase": "", None: "[5,7,9]"}
