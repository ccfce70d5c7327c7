"""Router dual-execution tests: every routed query must equal the pushdown
answer (CompareLevel.SAME — a wrong cuboid match is silent corruption)."""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.datasets import (
    TPCH_CUBE,
    TPCH_CUBE_SEG,
    TPCH_MODEL,
    TPCH_MODEL_SEG,
)
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def engine(spark, tpch_cube_store, seg_cube_store, tmp_path_factory):
    # clones of the session-built cubes instead of two fresh 49-layout
    # builds (r14 suite-budget fix): byte-identical layouts, same routing
    from tests.conftest import clone_cube_store

    d = str(tmp_path_factory.mktemp("cubes"))
    clone_cube_store(tpch_cube_store, d)
    clone_cube_store(seg_cube_store, d)
    eng = OlapEngine(spark, storage_dir=d)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.add_model(TPCH_MODEL_SEG)
    eng.load_cube(TPCH_CUBE)
    eng.load_cube(TPCH_CUBE_SEG)
    return eng


ROUTED = [
    # exact-match hit: project-only plan
    """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
       from lineitem group by l_returnflag, l_linestatus""",
    # re-aggregation from a wider cuboid
    """select l_returnflag, sum(l_extendedprice) as s
       from lineitem group by l_returnflag""",
    # global aggregate, no group by
    """select sum(l_quantity) as s, max(l_extendedprice) as mx, count(*) as n
       from lineitem""",
    # filter on a dimension + group by another
    """select l_linestatus, count(*) as n from lineitem
       where l_returnflag = 'A' group by l_linestatus""",
    # model joins + snowflake dim
    """select r_name, n_name, sum(l_extendedprice) as s
       from lineitem join orders on l_orderkey = o_orderkey
         join customer on o_custkey = c_custkey
         join nation on c_nationkey = n_nationkey
         join region on n_regionkey = r_regionkey
       group by r_name, n_name""",
    # AVG decomposition to SUM/COUNT
    """select o_orderpriority, avg(l_quantity) as a from lineitem
       join orders on l_orderkey = o_orderkey group by o_orderpriority""",
    # exact count distinct served from dimensions
    """select l_returnflag, count(distinct p_brand) as nb from lineitem
       join part on l_partkey = p_partkey group by l_returnflag""",
    # sort + limit re-applied after routing
    """select p_brand, sum(l_quantity) as s from lineitem
       join part on l_partkey = p_partkey
       group by p_brand order by s desc limit 5""",
    # aggregate over an expression matching a declared computed column
    # (CreateFlatTable.scala:43-95 materialization + OLAPAggregateRel.java
    # :528-600 measure rewrite)
    "select l_returnflag, sum(l_extendedprice * (1 - l_discount)) as s from lineitem group by l_returnflag",
    # AVG over a computed column decomposes to its SUM/COUNT measures
    "select l_returnflag, avg(l_extendedprice * (1 - l_discount)) as a from lineitem group by l_returnflag",
]

NOT_ROUTED = [
    # aggregate over an expression with no matching computed column
    "select l_returnflag, sum(l_extendedprice * (1 + l_discount)) as s from lineitem group by l_returnflag",
    # measure not declared (sum of l_tax)
    "select l_returnflag, sum(l_tax) as s from lineitem group by l_returnflag",
    # join not in the model
    """select c_mktsegment, count(*) as n from customer
       join nation on c_nationkey = n_nationkey group by c_mktsegment""",
    # filter on a non-dimension
    "select l_returnflag, count(*) as n from lineitem where l_quantity > 30 group by l_returnflag",
    # derived recovery impossible: r_name's host FK (n_regionkey) not a dim
    """select r_name, sum(l_quantity) as s from lineitem
       join orders on l_orderkey = o_orderkey
       join customer on o_custkey = c_custkey
       join nation on c_nationkey = n_nationkey
       join region on n_regionkey = r_regionkey
       where l_shipdate >= date '1997-01-01'
       group by r_name""",
]


@pytest.mark.parametrize("sql", ROUTED)
def test_routes_and_matches_pushdown(engine, sql):
    engine.sql(sql, validate=True)  # raises on mismatch
    assert engine.last_route is not None, f"expected a cuboid route for: {sql}"


@pytest.mark.parametrize("sql", NOT_ROUTED)
def test_falls_back_to_pushdown(engine, sql):
    df = engine.sql(sql)
    assert engine.last_route is None
    assert df.collect() is not None  # pushdown still answers correctly


def test_exact_match_is_project_only(engine):
    engine.sql(
        """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
           from lineitem group by l_returnflag, l_linestatus"""
    )
    assert engine.last_route.exact


def test_single_pinned_segment_exact_skip(engine):
    """Round-3 verdict item 5: when the folded segment filters pin exactly
    ONE segment and the cuboid dims equal the group cols, the segmented cube
    may take the project-only exact path — no HashAggregate at query time
    (GTCubeStorageQueryBase.java:164-186 isNeedStorageAggregation)."""
    sql = """select l_shipdate, l_returnflag, sum(l_quantity) as s
             from lineitem
             where l_shipdate = date '1995-03-15'
             group by l_shipdate, l_returnflag"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.cube == "tpch_cube_seg", route
    assert route.exact, route
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan


def test_multi_segment_query_still_reaggregates(engine):
    """A range spanning >1 segment must NOT take the exact skip — layout
    rows repeat per segment and the projection would emit duplicates."""
    sql = """select l_shipdate, l_returnflag, sum(l_quantity) as s
             from lineitem
             where l_shipdate >= date '1995-03-01' and l_shipdate <= date '1995-04-30'
             group by l_shipdate, l_returnflag"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    if route is not None and route.cube == "tpch_cube_seg":
        assert not route.exact, route


def test_segment_pruning_in_plan(engine):
    """Date bounds must become PartitionFilters on __segment__ — whole
    segment dirs skipped before file listing (FilePruner parity)."""
    sql = """select l_returnflag, sum(l_quantity) as s from lineitem
             where l_shipdate >= date '1995-06-01' and l_shipdate < date '1995-09-01'
             group by l_returnflag"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.cube == "tpch_cube_seg"
    assert len(route.segment_filters) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert seg_lines and "__segment__" in seg_lines[0], plan


def test_segment_pruning_disabled_under_or(engine):
    """OR makes bound-folding unsound — router must keep correctness by
    skipping the fold (rows still filtered normally)."""
    sql = """select l_returnflag, count(*) as n from lineitem
             where l_shipdate >= date '1995-06-01' or l_returnflag = 'A'
             group by l_returnflag"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.segment_filters == []


def test_shard_pruning_in_plan(engine):
    """Equality on the shard column must become a __shard__ PartitionFilter
    — whole shard dirs skipped before file listing (FilePruner.pruneShards
    parity via Hive-style shard partition dirs)."""
    sql = """select p_brand, sum(l_quantity) as s from lineitem
             join part on l_partkey = p_partkey
             where p_brand = 'Brand#13' group by p_brand"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.shard_eq == ("p_brand", "'Brand#13'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert seg_lines and "__shard__" in seg_lines[0], plan


def test_shard_pruning_disabled_under_or(engine):
    sql = """select p_brand, count(*) as n from lineitem
             join part on l_partkey = p_partkey
             where p_brand = 'Brand#13' or p_brand = 'Brand#5'
             group by p_brand"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.shard_eq is None


def test_derived_dimension_recovery(engine):
    """n_name recovered via snapshot join on the c_nationkey host dim."""
    sql = """select n_name, sum(l_quantity) as s from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
             join nation on c_nationkey = n_nationkey
             where l_shipdate >= date '1996-01-01'
             group by n_name"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.cube == "tpch_cube_seg"
    assert [lk.table for lk in route.derived] == ["nation"]


def test_derived_filter_column(engine):
    """Filter on a derived (lookup) column also recovered via snapshot."""
    sql = """select l_returnflag, count(*) as n from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
             join nation on c_nationkey = n_nationkey
             where n_name = 'NATION_5' and l_shipdate >= date '1994-01-01'
             group by l_returnflag"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.derived


def test_derived_filter_translates_to_host_in_list(engine):
    """A top-level AND conjunct on a derived column becomes a host-FK
    IN-list applied BEFORE the recovery join (DerivedProcess.scala:38-188
    translate): the snapshot probe resolves which c_nationkey values can
    satisfy ``n_name = 'NATION_5'``, and the layout scan is narrowed to
    them (PushedFilters In) — the post-join row filter still runs, so the
    answer is asserted identical to pushdown."""
    sql = """select l_returnflag, count(*) as n from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
             join nation on c_nationkey = n_nationkey
             where n_name = 'NATION_5' and l_shipdate >= date '1994-01-01'
             group by l_returnflag"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.derived
    inst = engine.cubes[route.cube]
    cached = {
        k: v for k, v in inst.derived_in_cache.items() if k[0] == "nation"
    }
    assert any(v is not None for v in cached.values()), cached
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a 1-value IN-list folds to EqualTo; either spelling proves the
    # translated filter reached the CUBOID scan's PushedFilters
    assert "In(c_nationkey" in plan or "EqualTo(c_nationkey" in plan, plan


def test_derived_filter_or_condition_not_translated(engine):
    """An OR mixing lookup and fact columns is NOT translatable — the whole
    disjunction stays a post-join row filter (cached as None), and the
    answer still matches pushdown."""
    sql = """select l_returnflag, count(*) as n from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
             join nation on c_nationkey = n_nationkey
             where (n_name = 'NATION_5' or l_returnflag = 'A')
               and l_shipdate >= date '1994-01-01'
             group by l_returnflag"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.derived
    inst = engine.cubes[route.cube]
    # no nation cache entry may carry values derived from the disjunction
    for key, vals in inst.derived_in_cache.items():
        if key[0] == "nation" and "OR" in key[-1].upper():
            assert vals is None, (key, vals)


def test_topn_pinned_segment_routes(engine):
    """Date-pinned top-k on the SEGMENTED cube takes the stored-list route
    (partition-column equality pins one segment; one list per group)."""
    sql = """select l_suppkey, sum(l_quantity) as s from lineitem
             where l_shipdate = date '1996-03-15'
             group by l_suppkey order by s desc, l_suppkey limit 5"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.topn is not None, route
    assert route.cube == "tpch_cube_seg"
    assert route.segment_filters and "1996-03" in route.segment_filters[0]


def test_topn_range_filter_not_pinned_no_list_route(engine):
    """A RANGE filter on the partition column spans many stored lists —
    the stored-TopN route must refuse (merged truncated lists would be
    approximate); the query still answers correctly another way."""
    sql = """select l_suppkey, sum(l_quantity) as s from lineitem
             where l_shipdate >= date '1996-03-01'
               and l_shipdate < date '1996-04-01'
             group by l_suppkey order by s desc, l_suppkey limit 5"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is None or route.topn is None, route


def test_having_routed(engine):
    """HAVING over a select alias routes and filters post-aggregation."""
    sql = """select l_returnflag, sum(l_quantity) as s from lineitem
             group by l_returnflag having sum(l_quantity) > 1000"""
    engine.sql(sql, validate=True)
    assert engine.last_route is not None


def test_having_on_hidden_agg_routes(engine):
    """HAVING on an agg absent from the select list (Project-over-Filter
    extended shape): the hidden aggregate becomes a routable measure column,
    filtered then dropped."""
    sql = """select l_returnflag, sum(l_quantity) as s from lineitem
             group by l_returnflag having count(*) > 5"""
    df = engine.sql(sql, validate=True)
    assert engine.last_route is not None
    assert df.columns == ["l_returnflag", "s"]  # hidden column dropped


def test_having_hidden_agg_without_measure_falls_back(engine):
    """A hidden HAVING aggregate with no matching measure cannot route."""
    sql = """select l_returnflag, sum(l_quantity) as s from lineitem
             group by l_returnflag having sum(l_tax) > 0"""
    df = engine.sql(sql)
    assert engine.last_route is None
    assert df.count() > 0


def test_bitmap_distinct_exact_by_default(engine):
    """COUNT(DISTINCT l_partkey): not a dimension, but the cube stores a
    dictionary-id bitmap measure — served exactly WITHOUT opt-in, no
    flat-table scan."""
    sql = """select l_returnflag, count(distinct l_partkey) as nd
             from lineitem group by l_returnflag"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.bitmap_distinct == {"nd": "bm_partkey"}
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln]
    assert scans and all("lineitem.parquet" not in ln for ln in scans), plan


def test_bitmap_distinct_global_and_mixed(engine):
    """Bitmap counts compose with other measures and with no GROUP BY."""
    engine.sql("select count(distinct l_partkey) as nd from lineitem", validate=True)
    assert engine.last_route is not None and engine.last_route.bitmap_distinct
    engine.sql(
        """select l_returnflag, count(distinct l_partkey) as nd,
                  sum(l_quantity) as s, count(*) as c
           from lineitem group by l_returnflag""",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.bitmap_distinct


def test_global_dictionary_ids_dense_and_unique(spark):
    from kylin_on_parquet_v2_spark.cube.dictionary import build_global_dict
    from kylin_on_parquet_v2_spark.session import register_views

    register_views(spark, SF_SMOKE)
    li = spark.table("lineitem").limit(5000)
    d = build_global_dict(li, "l_partkey").collect()
    ids = sorted(r.did for r in d)
    assert ids == list(range(len(ids)))  # dense [0, cardinality)
    assert len({r.value for r in d}) == len(d)


def test_topn_stored_measure_routes(engine):
    """`group by r order by sum(m) desc limit k` with r NOT a dimension is
    served by exploding the stored TopN list (exact for k <= n)."""
    sql = """select l_suppkey, sum(l_quantity) as s from lineitem
             group by l_suppkey order by s desc, l_suppkey limit 10"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.topn == ("s", "topn_suppkey_qty", "l_suppkey")
    assert route.cuboid.dims == ()  # narrower layout than the group-by set
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan, plan


def test_topn_k_beyond_n_falls_back(engine):
    """k > n would need entries the stored list dropped — must not use it."""
    engine.sql(
        """select l_suppkey, sum(l_quantity) as s from lineitem
           group by l_suppkey order by s desc limit 60"""
    )
    route = engine.last_route
    assert route is None or route.topn is None


def test_topn_with_group_and_filter(engine):
    sql = """select l_returnflag, l_suppkey, sum(l_quantity) as s from lineitem
             where l_returnflag = 'A'
             group by l_returnflag, l_suppkey
             order by s desc, l_suppkey limit 5"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.topn is not None


def test_global_aggregate_hits_zero_dim_cuboid(engine):
    engine.sql("select sum(l_quantity) as s, count(*) as n from lineitem")
    route = engine.last_route
    assert route is not None and route.cuboid.dims == ()


def test_percentile_from_histogram_sketch(engine):
    """percentile_approx routes to the mergeable histogram measure; the
    answer is within one bin width (the declared accuracy) of exact, and no
    fact scan appears in the plan."""
    sql = """select l_returnflag, percentile_approx(l_quantity, 0.5) as p50
             from lineitem group by l_returnflag"""
    df = engine.sql(sql)
    route = engine.last_route
    assert route is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan, plan
    exact = {
        r.l_returnflag: r.p
        for r in engine.pushdown(
            "select l_returnflag, percentile(l_quantity, 0.5) as p "
            "from lineitem group by l_returnflag"
        ).collect()
    }
    for r in df.collect():
        assert abs(r.p50 - exact[r.l_returnflag]) <= 0.5, r  # bin width


def test_approx_distinct_via_hll_measure(engine):
    """COUNT(DISTINCT l_suppkey): not a dimension, but the cube declares an
    hllc measure on it — approx routing is opt-in and accuracy-bounded."""
    sql = """select l_returnflag, count(distinct l_suppkey) as nd
             from lineitem group by l_returnflag"""
    df_default = engine.sql(sql)
    assert engine.last_route is None  # exact answer required by default
    exact = {r.l_returnflag: r.nd for r in df_default.collect()}

    df_approx = engine.sql(sql, approx_distinct=True)
    route = engine.last_route
    assert route is not None and route.approx_distinct == {"nd": "hll_suppkey"}
    for r in df_approx.collect():
        assert abs(r.nd - exact[r.l_returnflag]) / exact[r.l_returnflag] < 0.05


def test_explain_reports_route(engine):
    out = engine.explain(
        "select l_returnflag, count(*) as n from lineitem group by l_returnflag"
    )
    assert out.startswith("route: cube=tpch_cube")
    out2 = engine.explain("select l_shipdate from lineitem limit 1")
    assert out2.startswith("route: none")
    # the plan is the statement's real execution: a Parquet scan, never a
    # scan of rows already collected on the driver
    for plan in (out, out2):
        assert "parquet" in plan
        assert "ExistingRDD" not in plan and "LocalTableScan" not in plan


GROUPING_SET_SQL = [
    """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
       from lineitem group by rollup(l_returnflag, l_linestatus)""",
    """select l_returnflag, l_linestatus, sum(l_extendedprice) as s
       from lineitem group by cube(l_returnflag, l_linestatus)""",
    """select l_returnflag, l_linestatus, avg(l_quantity) as a, count(*) as n
       from lineitem where l_shipdate >= date '1995-01-01'
       group by grouping sets ((l_returnflag), (l_returnflag, l_linestatus), ())""",
]


@pytest.mark.parametrize("sql", GROUPING_SET_SQL)
def test_grouping_sets_route_and_match(engine, sql):
    """ROLLUP/CUBE/GROUPING SETS expand into per-set cuboid aggregations
    unioned back (AggregateMultipleExpandRule parity)."""
    engine.sql(sql, validate=True)
    assert engine.last_route is not None, sql


def test_grouping_sets_scan_layouts_not_fact(engine):
    """Every union branch must read the pre-aggregated layout, not the
    source fact table."""
    df = engine.sql(
        """select l_returnflag, l_linestatus, sum(l_quantity) as s
           from lineitem group by rollup(l_returnflag, l_linestatus)"""
    )
    assert engine.last_route is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln]
    assert scans and all("lineitem.parquet" not in ln for ln in scans), plan


def test_multi_column_distinct_routes(engine):
    """count(distinct a, b) over dimension columns routes and matches
    pushdown (composite-key DimCountDistinct)."""
    df = engine.sql(
        """select count(distinct l_returnflag, l_linestatus) as nd
           from lineitem""",
        validate=True,
    )
    assert engine.last_route is not None
    assert df.collect()[0].nd > 0


def test_multi_column_distinct_non_dim_falls_back(engine):
    engine.sql(
        "select count(distinct l_returnflag, l_partkey) as nd from lineitem"
    )
    assert engine.last_route is None  # l_partkey is not a dimension


def test_bitmap_distinct_under_rollup(engine):
    """COUNT(DISTINCT non-dim col) under ROLLUP routed via the stored
    bitmap: every grouping set re-counts the word bags at its own
    granularity (bit_or idempotence keeps the coarser re-OR exact)."""
    df = engine.sql(
        """select l_returnflag, l_linestatus,
                  count(distinct l_partkey) as nd, count(*) as n
           from lineitem
           group by rollup(l_returnflag, l_linestatus)""",
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.bitmap_distinct == {"nd": "bm_partkey"}, route
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # layouts only, never the fact view


def test_grouping_indicator_routes(engine):
    """GROUPING() routes with the grouping-set expansion: the indicator is
    the per-set 0/1 literal (AggregatePlan.scala:169-174 rewrite) — was a
    pushdown fallback before round 5."""
    df = engine.sql(
        """select l_returnflag, grouping(l_returnflag) as g, sum(l_quantity) as s
           from lineitem group by rollup(l_returnflag)""",
        validate=True,
    )
    assert engine.last_route is not None
    got = {(r.l_returnflag, r.g) for r in df.collect()}
    assert (None, 1) in got and all(g == 0 for rf, g in got if rf is not None)


def test_grouping_id_still_falls_back(engine):
    """grouping_id() (the packed integer form) is NOT digested — must fall
    back to pushdown, never misroute."""
    df = engine.sql(
        """select l_returnflag, grouping_id() as gid, sum(l_quantity) as s
           from lineitem group by rollup(l_returnflag)"""
    )
    assert engine.last_route is None
    assert df.count() > 0


def test_expression_measure_routes_to_computed_column(engine):
    """The real TPC-H q1 revenue aggregate is served from the sum_revenue
    measure over the model's `revenue` computed column, not the flat path."""
    sql = """select l_returnflag, sum(l_extendedprice * (1 - l_discount)) as rev
             from lineitem group by l_returnflag"""
    engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None
    # the layout serves the expression from a stored measure: no flat scan
    digest_cols = {c for c in ("l_extendedprice", "l_discount")}
    assert not digest_cols & set(route.cuboid.dims)


def test_sort_limit_preserved(engine):
    sql = """select p_brand, sum(l_quantity) as s from lineitem
             join part on l_partkey = p_partkey
             group by p_brand order by s desc, p_brand limit 3"""
    routed = [tuple(r) for r in engine.sql(sql).collect()]
    flat = [tuple(r) for r in engine.pushdown(sql).collect()]
    assert routed == flat


# -- window functions over the routed aggregate (OLAPWindowRel parity) -------

WINDOWED_ROUTED = [
    # ranking over the aggregate's output, partitioned by a group column
    """select l_returnflag, l_linestatus, sum(l_quantity) as s,
              rank() over (partition by l_returnflag order by sum(l_quantity) desc) as rnk
       from lineitem group by l_returnflag, l_linestatus""",
    # hidden `_w0` ordering aggregate (sum not in the select list)
    """select l_returnflag, count(*) as n,
              row_number() over (order by sum(l_extendedprice) desc) as rn
       from lineitem group by l_returnflag""",
    # window aggregate + post-window scalar projection (share of total)
    """select l_returnflag, sum(l_quantity) as s,
              sum(l_quantity) / sum(sum(l_quantity)) over () as share
       from lineitem group by l_returnflag""",
    # lag/lead: Catalyst renders an explicit frame the parser rejects —
    # digest strips it (frame-fixed function)
    """select l_returnflag, l_linestatus, count(*) as n,
              lag(count(*)) over (partition by l_returnflag order by l_linestatus) as p,
              lead(count(*)) over (partition by l_returnflag order by l_linestatus) as nx
       from lineitem group by l_returnflag, l_linestatus""",
    # several distinct window specs => stacked Window nodes, replayed
    # innermost-first
    """select l_returnflag, l_linestatus, sum(l_quantity) as s,
              rank() over (order by sum(l_quantity) desc) as rnk,
              ntile(2) over (partition by l_returnflag order by l_linestatus) as bucket,
              avg(sum(l_quantity)) over (partition by l_returnflag) as seg_avg
       from lineitem group by l_returnflag, l_linestatus""",
    # explicit running frame over the aggregate rows
    """select l_returnflag, l_linestatus, sum(l_quantity) as s,
              sum(sum(l_quantity)) over (partition by l_returnflag
                                         order by l_linestatus
                                         rows between unbounded preceding
                                         and current row) as running
       from lineitem group by l_returnflag, l_linestatus""",
    # window + HAVING below it (HAVING filters groups BEFORE the window)
    """select p_brand, sum(l_quantity) as s,
              rank() over (order by sum(l_quantity) desc) as rnk
       from lineitem join part on l_partkey = p_partkey
       group by p_brand having sum(l_quantity) > 100""",
    # window + ORDER BY a window output + LIMIT
    """select p_brand, sum(l_quantity) as s,
              rank() over (order by sum(l_quantity) desc) as rnk
       from lineitem join part on l_partkey = p_partkey
       group by p_brand order by rnk, p_brand limit 5""",
]


@pytest.mark.parametrize("sql", WINDOWED_ROUTED)
def test_window_over_aggregate_routes(engine, sql):
    engine.sql(sql, validate=True)  # raises on mismatch vs plain Spark
    assert engine.last_route is not None, f"expected a cuboid route for: {sql}"


def test_window_over_exact_hit_stays_exact(engine):
    """Windows are post-processing: they must not demote a project-only
    exact cuboid hit to a re-aggregation."""
    engine.sql(
        """select l_returnflag, l_linestatus, sum(l_quantity) as s,
                  rank() over (order by sum(l_quantity) desc) as rnk
           from lineitem group by l_returnflag, l_linestatus""",
        validate=True,
    )
    assert engine.last_route is not None and engine.last_route.exact


def test_window_over_non_aggregate_falls_back(engine):
    """A window directly over detail rows has no aggregate to route —
    pushdown answers it."""
    df = engine.sql(
        """select l_orderkey, l_quantity,
                  row_number() over (partition by l_orderkey order by l_linenumber) as rn
           from lineitem limit 10"""
    )
    assert engine.last_route is None
    assert df.collect() is not None


# -- dimension-as-measure (FunctionDesc.isDimensionAsMetric parity) ----------

def test_min_max_on_dimension_routes_without_measure(engine):
    """MIN/MAX over a dimension column route with no declared measure: the
    layout keeps every distinct value, so per-group min/max over dim values
    equals min/max over raw rows."""
    engine.sql(
        """select l_returnflag, min(l_shipdate) as a, max(l_shipdate) as b
           from lineitem group by l_returnflag""",
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.dim_served == {"a": "l_shipdate", "b": "l_shipdate"}


def test_min_on_derived_dimension_routes(engine):
    """Derived columns recovered from the snapshot also serve min/max."""
    engine.sql(
        """select l_returnflag, min(n_name) as first_nation
           from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
             join nation on c_nationkey = n_nationkey
           group by l_returnflag""",
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.dim_served


def test_sum_on_dimension_does_not_route(engine):
    """SUM needs row multiplicities the collapsed layout lost — a column
    that is ONLY a dimension (c_nationkey in the segmented cube, no SUM
    measure anywhere) must NOT serve it."""
    df = engine.sql(
        """select l_returnflag, sum(c_nationkey) as s
           from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
           group by l_returnflag"""
    )
    assert engine.last_route is None
    assert df.collect() is not None


def test_min_on_dim_in_group_stays_exact(engine):
    """min(col) when col is itself a group key on an exact hit projects the
    dimension value — still a project-only plan."""
    engine.sql(
        """select l_returnflag, l_linestatus, min(l_linestatus) as m, sum(l_quantity) as s
           from lineitem group by l_returnflag, l_linestatus""",
        validate=True,
    )
    route = engine.last_route
    assert route is not None and route.dim_served.get("m") == "l_linestatus"


# -- grouping expressions over dimensions (time-hierarchy generalization) ----

GROUP_EXPR_ROUTED = [
    # classic time series: year/month of a day-grained dimension
    """select year(l_shipdate) as y, month(l_shipdate) as m,
              sum(l_quantity) as s, count(*) as n
       from lineitem group by year(l_shipdate), month(l_shipdate)""",
    # expression + plain dim in the same grouping
    """select date_trunc('month', l_shipdate) as mon, l_returnflag, count(*) as n
       from lineitem group by date_trunc('month', l_shipdate), l_returnflag""",
    # grouping expression NOT in the select list
    "select sum(l_quantity) as s from lineitem group by year(l_shipdate)",
    # expression grouping + dimension filter
    """select month(l_shipdate) as m, count(*) as n from lineitem
       where l_returnflag = 'A' group by month(l_shipdate)""",
    # non-temporal expression of a dim works the same way
    """select substring(l_returnflag, 1, 1) as c, count(*) as n
       from lineitem group by substring(l_returnflag, 1, 1)""",
]


@pytest.mark.parametrize("sql", GROUP_EXPR_ROUTED)
def test_group_expression_routes(engine, sql):
    engine.sql(sql, validate=True)
    assert engine.last_route is not None, f"expected a cuboid route for: {sql}"


def test_group_expression_over_non_dim_falls_back(engine):
    """An expression over a non-dimension column cannot be recovered from
    any layout — pushdown answers it."""
    df = engine.sql(
        "select round(l_quantity) as q, count(*) as n from lineitem group by round(l_quantity)"
    )
    assert engine.last_route is None
    assert df.collect() is not None


def test_group_expression_with_window_routes(engine):
    """Expression grouping composes with window replay."""
    engine.sql(
        """select year(l_shipdate) as y, sum(l_quantity) as s,
                  rank() over (order by sum(l_quantity) desc) as rnk
           from lineitem group by year(l_shipdate)""",
        validate=True,
    )
    assert engine.last_route is not None


def test_storage_limit_pushdown_on_exact_hit(engine):
    """Storage limit pushdown (GTCubeStorageQueryBase.java:190-196
    StorageLimitLevel): an exact cuboid hit with LIMIT and no re-agg plans
    as a limit directly over the layout scan — Catalyst keeps it a
    CollectLimit/TakeOrdered, never a HashAggregate."""
    df = engine.sql(
        """select l_returnflag, l_linestatus, sum(l_quantity) as s
           from lineitem group by l_returnflag, l_linestatus limit 3"""
    )
    assert engine.last_route is not None and engine.last_route.exact
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan
    assert "CollectLimit" in plan or "TakeOrdered" in plan, plan


def test_cte_spelled_aggregate_routes(engine):
    """WITH-clause spelling of a cuboid query routes like the plain form
    (Calcite inlines CTEs before planning in the reference; our digest
    applies Catalyst's InlineCTE rule the same way)."""
    sql = """with t as (
               select l_returnflag, sum(l_quantity) as s
               from lineitem where l_linestatus = 'F' group by l_returnflag)
             select * from t"""
    engine.sql(sql, validate=True)
    assert engine.last_route is not None


def test_derived_table_inner_filter_never_routes(engine):
    """REGRESSION (latent filter-loss bug): a derived-table subquery whose
    INNER filter sits below the alias must NOT digest as a bare table scan
    — treating the alias as the table would silently drop the filter from
    the routed answer. The shape is refused -> pushdown, which answers it
    correctly."""
    sql = """select l_returnflag, sum(l_quantity) as s
             from (select * from lineitem where l_quantity > 30) lineitem
             group by l_returnflag"""
    df = engine.sql(sql)
    assert engine.last_route is None
    # and the pushdown answer honors the inner filter
    flat = {
        (r["l_returnflag"], float(r["s"]))
        for r in engine.pushdown(sql).collect()
    }
    assert {(r["l_returnflag"], float(r["s"])) for r in df.collect()} == flat


def test_cte_reorder_and_subset_route(engine):
    """Reorder/subset projections over an inlined CTE body still route:
    the outer SELECT list is a pure attribute projection, applied to the
    digest's select list (group columns stay grouped even when dropped
    from the output)."""
    reorder = """with t as (
                   select l_returnflag, sum(l_quantity) as s
                   from lineitem where l_linestatus = 'F' group by l_returnflag)
                 select s, l_returnflag from t"""
    subset = """with t as (
                  select l_returnflag, l_linestatus, sum(l_quantity) as s
                  from lineitem group by l_returnflag, l_linestatus)
                select l_linestatus, s from t"""
    for sql in (reorder, subset):
        engine.sql(sql, validate=True)
        assert engine.last_route is not None, sql


def test_between_date_range_folds_segments(engine):
    """BETWEEN on the partition column folds into BOTH segment bounds (the
    BETWEEN-aware conjunct splitter keeps the range whole; the naive AND
    split used to shred it into non-foldable halves)."""
    sql = """select l_returnflag, sum(l_quantity) as s from lineitem
             where l_shipdate between date '1995-06-01' and date '1995-08-15'
             group by l_returnflag"""
    df = engine.sql(sql, validate=True)
    route = engine.last_route
    assert route is not None and route.cube == "tpch_cube_seg"
    assert len(route.segment_filters) == 2, route.segment_filters
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert seg_lines and "__segment__" in seg_lines[0], plan


def test_multi_context_join_of_aggregates_routes(engine):
    """A join of two aggregate subqueries routes EACH island independently
    (OLAPContext.java:122-182 — one context per star-join island; the
    enumerable join above runs on the served results)."""
    sql = """select a.l_returnflag, a.sum_qty, b.n_f
             from (select l_returnflag, sum(l_quantity) as sum_qty
                   from lineitem group by l_returnflag) a
             join (select l_returnflag as rf2, count(*) as n_f
                   from lineitem where l_linestatus = 'F'
                   group by l_returnflag) b
               on a.l_returnflag = b.rf2
             order by a.l_returnflag"""
    engine.sql(sql, validate=True)
    assert len(engine.last_routes) == 2, engine.last_routes
    assert engine.metrics["routed_multi_context"] >= 1


def test_multi_context_requires_both_islands(engine):
    """If one island cannot route (undeclared measure), the whole query
    stays pushdown — no half-routed joins."""
    sql = """select a.l_returnflag, a.sq, b.st
             from (select l_returnflag, sum(l_quantity) as sq
                   from lineitem group by l_returnflag) a
             join (select l_returnflag as rf2, sum(l_tax) as st
                   from lineitem group by l_returnflag) b
               on a.l_returnflag = b.rf2"""
    df = engine.sql(sql)
    assert engine.last_route is None and df.count() > 0


def test_union_all_of_aggregates_routes(engine):
    """UNION ALL branches each route onto their own cuboid (OLAPUnionRel:
    one context per branch, results folded positionally)."""
    sql = """select l_returnflag as k, sum(l_quantity) as v
             from lineitem group by l_returnflag
             union all
             select l_linestatus as k, sum(l_quantity) as v
             from lineitem group by l_linestatus
             order by k, v"""
    engine.sql(sql, validate=True)
    assert len(engine.last_routes) == 2, engine.last_routes


def test_setops_of_aggregates_route(engine):
    """UNION (distinct), INTERSECT and EXCEPT of routable aggregates route
    per-branch; the final set-op runs over the served (tiny) results —
    beyond the reference, which pushes INTERSECT/EXCEPT down entirely."""
    for op in ("union", "intersect", "except"):
        sql = f"""select l_returnflag as k from lineitem group by l_returnflag
                  {op}
                  select l_linestatus as k from lineitem group by l_linestatus"""
        engine.sql(sql, validate=True)
        assert len(engine.last_routes) == 2, (op, engine.last_routes)


def test_three_way_multi_context_join_routes(engine):
    """Nested joins of THREE aggregate islands all route (one context per
    island, recursive join tree over served results)."""
    sql = """select a.l_returnflag, a.sq, b.n_f, c.n_o
             from (select l_returnflag, sum(l_quantity) as sq
                   from lineitem group by l_returnflag) a
             join (select l_returnflag as rf2, count(*) as n_f
                   from lineitem where l_linestatus = 'F'
                   group by l_returnflag) b
               on a.l_returnflag = b.rf2
             join (select l_returnflag as rf3, count(*) as n_o
                   from lineitem where l_linestatus = 'O'
                   group by l_returnflag) c
               on a.l_returnflag = c.rf3
             order by a.l_returnflag"""
    engine.sql(sql, validate=True)
    assert len(engine.last_routes) == 3, engine.last_routes


def test_agg_over_union_of_islands_routes(engine):
    """The year-over-year shape: re-aggregation ABOVE a union of routable
    aggregates — branches serve from cuboids, the outer aggregate re-runs
    over the served union."""
    sql = """select k, round(sum(v), 2) as total, count(*) as n_branches
             from (
               select l_returnflag as k, sum(l_quantity) as v
               from lineitem where l_linestatus = 'F' group by l_returnflag
               union all
               select l_returnflag as k, sum(l_quantity) as v
               from lineitem where l_linestatus = 'O' group by l_returnflag
             ) u
             group by k
             order by k"""
    engine.sql(sql, validate=True)
    assert len(engine.last_routes) == 2, engine.last_routes


def test_scalar_projection_over_join_islands_routes(engine):
    """Ratio/share dashboards: a computed projection over two routed
    aggregate islands (``b.n / a.n``) re-runs above the served join."""
    sql = """select a.l_returnflag,
                    round(b.n_f / a.n_all, 4) as f_share
             from (select l_returnflag, count(*) as n_all
                   from lineitem group by l_returnflag) a
             join (select l_returnflag as rf2, count(*) as n_f
                   from lineitem where l_linestatus = 'F'
                   group by l_returnflag) b
               on a.l_returnflag = b.rf2
             order by a.l_returnflag"""
    engine.sql(sql, validate=True)
    assert len(engine.last_routes) == 2, engine.last_routes
