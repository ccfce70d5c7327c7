"""Word-bag COUNT DISTINCT served in one two-level aggregation.

A grouping set whose bag outputs all read one bitmap column, beside only
MERGE-family outputs (COUNT, SUM, MIN, MAX, AVG, dim-served MIN/MAX), is
one aggregation of the routed layout scan: ``posexplode_outer`` the bag,
``bit_or`` per (keys, word bucket) with each plain partial taken from a
layout row's first word, then ``bit_count`` and the merges per keys. Each
routed answer here must equal the pushdown answer in rows and types, and
keep the set's group universe: a group with no bag word counts 0 and a
NULL-keyed group survives.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from kylin_on_parquet_v2_spark.cube import dictionary as GD
from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
from kylin_on_parquet_v2_spark.query import router
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from kylin_on_parquet_v2_spark.query.router import (
    fold_word_bags,
    join_counts,
    merge_column,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def engine(spark, tpch_cube_store):
    # read-only: nothing here writes to the session template store
    eng = OlapEngine(spark, storage_dir=tpch_cube_store)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.load_cube(TPCH_CUBE)
    return eng


def _folded(df) -> bool:
    """The answer is one aggregation over one layout scan: its plan
    explodes the bags with posexplode_outer and joins nothing."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "posexplode" in plan and "Join" not in plan


def _routed_matches_pushdown(engine, sql: str):
    df = engine.sql(sql)
    assert engine.last_decision.kind == "routed", engine.last_decision.reason
    assert engine.last_route.bitmap_distinct or engine.last_route.bitmap_cond
    push = engine.pushdown(sql)
    assert df.dtypes == push.dtypes
    engine._assert_same(df, push)
    return df


FOLDED = {
    "distinct_only": """select l_returnflag, count(distinct l_partkey) as nd
        from lineitem group by l_returnflag""",
    "distinct_and_merges": """select l_returnflag, l_linestatus,
            count(distinct l_partkey) as nd, count(*) as n,
            sum(l_quantity) as s, avg(l_extendedprice) as a,
            min(l_extendedprice) as lo, max(o_orderpriority) as hi
        from lineitem join orders on l_orderkey = o_orderkey
        group by l_returnflag, l_linestatus""",
    # the cohort holds for one flag only: the other groups have no bag
    # word left and count 0
    "group_without_words": """select l_returnflag,
            count(distinct case when l_returnflag = 'A' then l_partkey end) as na,
            count(*) as n
        from lineitem group by l_returnflag""",
    "null_key": """select nullif(l_returnflag, 'R') as rf,
            count(distinct l_partkey) as nd, count(*) as n
        from lineitem group by nullif(l_returnflag, 'R')""",
    "global": """select count(distinct l_partkey) as nd, count(*) as n,
            avg(l_quantity) as a
        from lineitem where l_linestatus = 'O'""",
    "global_distinct_only": "select count(distinct l_partkey) as nd from lineitem",
    "rollup": """select l_returnflag, l_linestatus,
            count(distinct l_partkey) as nd, sum(l_quantity) as s
        from lineitem group by rollup(l_returnflag, l_linestatus)""",
    "grouping_sets": """select l_returnflag, l_linestatus,
            grouping(l_linestatus) as gl, count(distinct l_partkey) as nd,
            count(*) as n
        from lineitem
        group by grouping sets ((l_returnflag), (l_linestatus), ())""",
    "cohort_beside_distinct": """select l_returnflag,
            count(distinct l_partkey) as nd,
            count(distinct case when l_linestatus = 'O' then l_partkey end) as no,
            count(*) as n
        from lineitem group by l_returnflag""",
}


@pytest.mark.parametrize("name", sorted(FOLDED))
def test_folded_read_matches_pushdown(engine, name):
    df = _routed_matches_pushdown(engine, FOLDED[name])
    assert _folded(df), name


def test_null_key_and_wordless_groups_kept(engine):
    """The universe of each set survives the fold: the NULL-keyed group is
    there, and groups the cohort excludes count 0, not NULL."""
    rows = engine.sql(FOLDED["null_key"]).collect()
    assert any(r.rf is None and r.nd > 0 for r in rows)
    rows = {r.l_returnflag: r.na for r in engine.sql(FOLDED["group_without_words"]).collect()}
    assert rows["A"] > 0 and rows["N"] == 0 and rows["R"] == 0


def test_non_mergeable_output_keeps_the_join_path(engine):
    """An output with no two-level form beside the bag (here HLL) keeps
    the per-bag counts joined onto the plain aggregate."""
    sql = """select l_returnflag, count(distinct l_partkey) as nd,
                 count(distinct l_suppkey) as ns
             from lineitem group by l_returnflag"""
    df = engine.sql(sql, approx_distinct=True)
    route = engine.last_route
    assert route is not None and route.bitmap_distinct and route.approx_distinct
    assert not _folded(df)
    assert "Join" in df._jdf.queryExecution().analyzed().toString()


def _jobs(spark, run) -> int:
    """Spark jobs started by ``run()`` (planning and collect alike)."""
    sc = spark.sparkContext
    group = f"bag-fold-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


_BAG_OUTPUTS = ["count(distinct l_partkey) as nd",
                "count(distinct l_partkey) as nd, count(*) as n"]


@pytest.mark.parametrize(
    "outputs, bound, jobs",
    [pytest.param(o, None, 1, id=o) for o in _BAG_OUTPUTS]
    + [pytest.param(o, 0, 3, id=f"{o}-bound0") for o in _BAG_OUTPUTS],
)
def test_bag_read_runs_three_jobs(spark, engine, monkeypatch, outputs, bound, jobs):
    """A bag-served read of a layout read as one partition (at most
    ``router.ONE_PARTITION_ROWS`` rows, the default here) is one Spark
    job: both fold levels run in the scan's stage. With the bound at 0 it
    is three: the two aggregation shuffles and the result; the join path
    ran five (a dims-only branch, the bag pipeline's two shuffles, the
    broadcast and the result). A memo replay of the frozen plan runs as
    many jobs as the cold read."""
    if bound is not None:
        monkeypatch.setattr(router, "ONE_PARTITION_ROWS", bound)
    # a text no other test issues, so the first read plans cold
    sql = (
        f"select l_linestatus, {outputs} from lineitem "
        f"where l_returnflag <> '{uuid.uuid4().hex[:6]}' group by l_linestatus"
    )
    cold = _jobs(spark, lambda: engine.sql(sql).collect())
    assert engine.last_decision.kind == "routed"
    hits = engine.metrics["route_memo_hits"]
    replay = _jobs(spark, lambda: engine.sql(sql).collect())
    assert engine.metrics["route_memo_hits"] == hits + 1
    assert (cold, replay) == (jobs, jobs)


def test_fold_keeps_null_and_empty_bags_and_decimal_types(spark):
    """The fold over hand-made layout rows, against the join path it
    replaces and the raw rows the bags encode: a group whose bags are all
    NULL or empty counts 0, a NULL key survives, and a decimal SUM or AVG
    has the join path's type although its SUM runs at two levels."""
    raw = spark.createDataFrame(
        [
            ("a", 1, 1.5), ("a", 2, 2.25), ("a", 70, None), ("a", None, 4.0),
            ("b", None, 3.0), ("b", None, 1.0),
            (None, 65, 0.5), (None, 1, 2.0),
            ("c", 3, 9.75),
        ],
        "k string, v long, x double",
    ).withColumn("x", F.col("x").cast(DecimalType(19, 4)))
    seg = raw.groupBy("k").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("x").alias("sum_x"),
        F.count("x").alias("cnt_x"),
    )
    # one segment's rows with stored bags (NULL for the all-NULL group b),
    # and a second segment whose bags are empty arrays
    layout = join_counts(seg, GD.bitmap_build_agg(raw, ["k"], "v", "bm"), ["k"], "bm", None)
    empty = seg.withColumn("bm", F.array().cast(layout.schema["bm"].dataType))
    layout = layout.unionByName(empty.select(*layout.columns))

    plain = [
        ("n", "COUNT", "_cnt"),
        ("s", "SUM", "sum_x"),
        ("a", "AVG", ("sum_x", "cnt_x")),
        ("lo", "MIN", "sum_x"),
    ]
    folded = fold_word_bags(layout, ["k"], [("nd", "bm", None)], plain, layout.schema)
    joined = join_counts(
        layout.groupBy("k").agg(
            *[merge_column(f, c, layout.schema).alias(n) for n, f, c in plain]
        ),
        GD.bitmap_count(layout, ["k"], name="bm", alias="nd"),
        ["k"], "nd", 0,
    )
    joined = joined.select(*folded.columns)
    assert folded.dtypes == joined.dtypes
    assert dict(folded.dtypes)["s"] == "decimal(29,4)"
    assert sorted(folded.collect(), key=str) == sorted(joined.collect(), key=str)

    truth = {
        r.k: (r.nd, 2 * r.n, 2 * r.s)
        for r in raw.groupBy("k").agg(
            F.count_distinct("v").alias("nd"),
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s"),
        ).collect()
    }
    got = {r.k: (r.nd, r.n, r.s) for r in folded.collect()}
    assert got == truth
    assert got["b"][0] == 0 and got[None][0] == 2
