"""Route-memo replays from a frozen analyzed plan, and one layout scan per
segment epoch.

A fresh non-hybrid routed or multi-context decision keeps its answer's
analyzed logical plan and each route cube's lifecycle epoch. A replay
under the same epochs runs a NEW Dataset over that plan: Spark optimizes
and executes it again and re-reads the Parquet files, so it runs the
first execution's stages, not a reused shuffle. Maintenance passes bump
the epoch after each layout's file change, so no frozen plan or cached
scan outlives the files it lists.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.cube.build import SEGMENT_COL, CubeInstance
from kylin_on_parquet_v2_spark.datasets import (
    TPCH_CUBE,
    TPCH_CUBE_SEG,
    TPCH_MODEL,
    TPCH_MODEL_SEG,
)
from kylin_on_parquet_v2_spark.query import engine as engine_mod
from kylin_on_parquet_v2_spark.query import router
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE, clone_cube_store

REAGG_SQL = """select l_returnflag, sum(l_quantity) as s from lineitem
    where l_linestatus = 'F' group by l_returnflag order by s desc"""

#: a join of two aggregate islands: the left needs o_orderpriority (only
#: tpch_cube has it), the right l_shipdate (only tpch_cube_seg has it)
TWO_CUBE_JOIN_SQL = """select a.l_returnflag, a.sum_qty, b.n
    from (select l_returnflag, sum(l_quantity) as sum_qty
          from lineitem join orders on l_orderkey = o_orderkey
          where o_orderpriority = '1-URGENT' group by l_returnflag) a
    join (select l_returnflag as rf2, count(*) as n from lineitem
          where l_shipdate >= date '1995-01-01' group by l_returnflag) b
      on a.l_returnflag = b.rf2
    order by a.l_returnflag"""

SEG_SQL = "select l_returnflag, sum(l_quantity) as s from lineitem group by l_returnflag"


def _engine(spark, storage_dir: str, *cubes) -> OlapEngine:
    eng = OlapEngine(spark, storage_dir=storage_dir)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.add_model(TPCH_MODEL_SEG)
    for desc in cubes:
        eng.load_cube(desc)
    return eng


@pytest.fixture(scope="module")
def eng(spark, tpch_cube_store, seg_cube_store, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frozen_replay_cubes"))
    clone_cube_store(tpch_cube_store, d)
    clone_cube_store(seg_cube_store, d)
    return _engine(spark, d, TPCH_CUBE, TPCH_CUBE_SEG)


def _collect_counting_stages(spark, df) -> tuple[list, int]:
    """Collect ``df`` in its own job group; also return how many stages
    ran (a skipped stage — a materialized shuffle reused — not counted)."""
    sc = spark.sparkContext
    group = f"stages-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "stage count")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    ran = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(jid).stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if store.lastStageAttempt(sid).status().toString() != "SKIPPED":
                ran.add(sid)
    return rows, len(ran)


def test_replay_is_a_new_dataset_over_the_frozen_plan(spark, eng, monkeypatch):
    """A replay returns a different DataFrame whose plan scans Parquet and
    runs as many stages as the first execution — a design that kept the
    first DataFrame would reuse its shuffle and run fewer. Nothing on the
    routing or scan-building path runs. The layout is planned with Spark's
    file splits (bound 0): read as one partition it has no shuffle."""
    monkeypatch.setattr(router, "ONE_PARTITION_ROWS", 0)
    first = eng.sql(REAGG_SQL)
    assert eng.last_decision.kind == "routed"
    assert eng.last_decision.analyzed is not None
    rows_1, stages_1 = _collect_counting_stages(spark, first)
    assert stages_1 >= 2  # the re-aggregation shuffles

    def refuse(*_args, **_kwargs):
        raise AssertionError("a frozen replay rebuilt its answer")

    monkeypatch.setattr(eng, "_serve", refuse)
    monkeypatch.setattr(eng, "_choose", refuse)
    monkeypatch.setattr(engine_mod, "execute_route", refuse)
    monkeypatch.setattr(CubeInstance, "layout_df", refuse)
    hits = eng.metrics["route_memo_hits"]
    again = eng.sql(REAGG_SQL)
    assert eng.metrics["route_memo_hits"] == hits + 1
    assert again is not first and not again._jdf.equals(first._jdf)
    assert "FileScan parquet" in again._jdf.queryExecution().executedPlan().toString()
    rows_2, stages_2 = _collect_counting_stages(spark, again)
    assert rows_2 == rows_1
    assert stages_2 == stages_1


def test_multi_replay_plans_again_when_one_island_epoch_moves(eng):
    """A multi-context decision over two cubes replays while both keep
    their epochs, and plans again when only one of them moves."""
    first = eng.sql(TWO_CUBE_JOIN_SQL).collect()
    decision = eng.last_decision
    assert decision.kind == "multi"
    assert {r.cube for r in decision.routes} == {"tpch_cube", "tpch_cube_seg"}
    assert first

    calls = eng.metrics["plan_route_calls"]
    assert eng.sql(TWO_CUBE_JOIN_SQL).collect() == first
    assert eng.metrics["plan_route_calls"] == calls  # frozen replay

    eng.cubes["tpch_cube_seg"].lifecycle_epoch += 1
    hits = eng.metrics["route_memo_hits"]
    assert eng.sql(TWO_CUBE_JOIN_SQL).collect() == first
    assert eng.metrics["plan_route_calls"] > calls  # planned again
    assert eng.metrics["route_memo_hits"] == hits
    assert eng.last_decision.analyzed is not None

    calls = eng.metrics["plan_route_calls"]
    assert eng.sql(TWO_CUBE_JOIN_SQL).collect() == first
    assert eng.metrics["plan_route_calls"] == calls
    assert eng.metrics["route_memo_hits"] == hits + 1


def test_layout_df_one_scan_per_epoch(spark, seg_cube_store, tmp_path):
    """Within one lifecycle epoch ``layout_df`` hands out the same scan;
    retention and refresh_cube each move the epoch, and the next call
    builds a new scan over the files then on disk."""
    eng = _engine(
        spark, clone_cube_store(seg_cube_store, str(tmp_path / "c")), TPCH_CUBE_SEG
    )
    inst = eng.cubes[TPCH_CUBE_SEG.name]
    base = max(inst.scheduler.cuboids.values(), key=lambda c: c.n_dims)
    scan = inst.layout_df(spark, base)
    assert inst.layout_df(spark, base) is scan
    n_all = scan.count()

    from kylin_on_parquet_v2_spark.cube.merge import apply_retention

    segs = inst.committed_segments(spark)
    dropped = apply_retention(spark, inst, keep=len(segs) - 1)
    assert dropped == segs[:1]
    retained = inst.layout_df(spark, base)
    assert retained is not scan
    assert retained.count() < n_all

    assert eng.refresh_cube(TPCH_CUBE_SEG.name) == dropped
    refreshed = inst.layout_df(spark, base)
    assert refreshed is not retained
    assert inst.layout_df(spark, base) is refreshed
    assert refreshed.count() == n_all
    # only the current epoch's scans are kept
    assert {epoch for _cid, epoch in inst._scans} == {inst.lifecycle_epoch}


def _layout_totals(spark, inst) -> list[tuple]:
    """SEG_SQL's answer read straight from the base layout's committed
    segment dirs, outside the engine."""
    cid = max(inst.layouts, key=lambda c: inst.scheduler.cuboids[c].n_dims)
    df = spark.read.parquet(inst.layouts[cid]).filter(
        F.col(SEGMENT_COL).cast("string").isin(inst.committed_segments(spark))
    )
    return _rounded(df.groupBy("l_returnflag").agg(F.sum("sum_qty").alias("s")).collect())


def _rounded(rows) -> list[tuple]:
    return sorted((r[0], round(r[1], 4)) for r in rows)


def test_replay_after_direct_merge_and_retention(spark, seg_cube_store, tmp_path):
    """merge_segments and apply_retention driven directly — outside
    refresh_cube, with no manual memo clear — remove segment dirs a frozen
    plan lists. The next call plans again over the files on disk: right
    rows, no FileNotFoundException."""
    from kylin_on_parquet_v2_spark.cube.merge import apply_retention, merge_segments

    eng = _engine(
        spark, clone_cube_store(seg_cube_store, str(tmp_path / "c")), TPCH_CUBE_SEG
    )
    inst = eng.cubes[TPCH_CUBE_SEG.name]
    before = _rounded(eng.sql(SEG_SQL).collect())
    assert before == _layout_totals(spark, inst)
    hits = eng.metrics["route_memo_hits"]
    assert _rounded(eng.sql(SEG_SQL).collect()) == before
    assert eng.metrics["route_memo_hits"] == hits + 1

    segs = inst.committed_segments(spark)
    merge_segments(spark, inst, segs[:3], segs[0])
    calls = eng.metrics["plan_route_calls"]
    assert _rounded(eng.sql(SEG_SQL).collect()) == before  # merge keeps rows
    assert eng.metrics["plan_route_calls"] > calls

    dropped = apply_retention(spark, inst, keep=len(inst.committed_segments(spark)) - 1)
    assert dropped == [segs[0]]  # the merged dir goes
    after = _rounded(eng.sql(SEG_SQL).collect())
    assert after == _layout_totals(spark, inst)
    assert after != before
    hits = eng.metrics["route_memo_hits"]
    assert _rounded(eng.sql(SEG_SQL).collect()) == after
    assert eng.metrics["route_memo_hits"] == hits + 1
