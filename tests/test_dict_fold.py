"""Persisted dictionary tail-fold (round-11 verdict item 6; reference
``NGlobalDictionaryV2.java`` versioned bucket persistence).

`_encode_tail` extends the global dictionary per hybrid query (memoized per
call, rebuilt each query). `fold_tail_dictionary` — run by refresh_cube /
compact_realtime maintenance — folds the realtime store's values into the
PERSISTED dictionary and records the covered file listing, so a subsequent
hybrid intersect/distinct query launches NO dictionary-extend job (asserted
by counting extend_global_dict calls) with hashes unchanged. A micro-batch
appended after the fold invalidates coverage and the extend runs again —
correctness never depends on the fold being fresh."""

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

SPLIT = "2024-03-02"
SQL = (
    "select etype, count(distinct user_id) as u, "
    "intersect_count(user_id, etype, array('view','purchase')) as vp "
    "from df_fact group by etype order by etype"
)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    rows = []
    for day in (1, 2):  # batch side
        for u in range(10):
            rows.append(
                ("view" if u % 2 == 0 else "click", dt.date(2024, 3, day), u, 1.0)
            )
    for day in (3, 4):  # tail: overlap users + NEW users 100-104
        for u in [5, 6, 7, 8, 9, 100, 101, 102, 103, 104]:
            rows.append(
                ("view" if u % 2 == 0 else "purchase", dt.date(2024, 3, day), u, 2.0)
            )
    df = spark.createDataFrame(rows, "etype string, d date, user_id long, v double")
    df.createOrReplaceTempView("df_fact")
    rt_dir = str(tmp_path_factory.mktemp("df_rt"))
    df.withColumn("__segment__", F.date_format("d", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("__segment__").parquet(rt_dir)
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("df_cubes")))
    eng.add_model(DataModel(name="df_star", fact_table="df_fact", partition_column="d"))
    eng.build_cube(
        CubeDesc(
            name="df_cube",
            model_name="df_star",
            dimensions=("etype", "d"),
            measures=(
                MeasureDesc("_count", FunctionDesc("COUNT")),
                MeasureDesc(
                    "bm_user", FunctionDesc("COUNT_DISTINCT", "user_id", "bitmap")
                ),
            ),
            segment_granularity="day",
        ),
        segment_range=(None, SPLIT),
    )
    eng.register_hybrid("df_cube", rt_dir, ts_col="d")
    return eng, rt_dir


def _run_counting_extends(eng, monkeypatch):
    from kylin_on_parquet_v2_spark.cube import dictionary as GD

    calls = []
    real = GD.extend_global_dict

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(GD, "extend_global_dict", counting)
    df = eng.sql(SQL)
    rows = [tuple(r) for r in df.collect()]
    route = eng.last_route
    assert route is not None and route.hybrid_tail, route
    return rows, len(calls)


def test_fold_skips_query_time_extend(setup, spark, monkeypatch):
    from kylin_on_parquet_v2_spark.streaming.hybrid import fold_tail_dictionary

    eng, rt_dir = setup
    before, n_ext = _run_counting_extends(eng, monkeypatch)
    assert n_ext >= 1  # un-folded: the query extends the dictionary

    inst = eng.cubes["df_cube"]
    added = fold_tail_dictionary(inst, eng.hybrids["df_cube"], spark)
    assert added == {"user_id": 5}  # users 100-104 appended, ids 0-9 kept

    after, n_ext2 = _run_counting_extends(eng, monkeypatch)
    assert n_ext2 == 0, "folded tail must skip the dictionary-extend job"
    assert after == before

    # idempotent: a second fold appends nothing and coverage stays valid
    assert fold_tail_dictionary(inst, eng.hybrids["df_cube"], spark) == {
        "user_id": 0
    }
    again, n_ext3 = _run_counting_extends(eng, monkeypatch)
    assert n_ext3 == 0 and again == before


def test_append_after_fold_reactivates_extend(setup, spark, monkeypatch):
    from kylin_on_parquet_v2_spark.streaming.hybrid import fold_tail_dictionary

    eng, rt_dir = setup
    fold_tail_dictionary(eng.cubes["df_cube"], eng.hybrids["df_cube"], spark)
    # a NEW micro-batch with an unseen user lands after the fold
    spark.createDataFrame(
        [("purchase", dt.date(2024, 3, 4), 999, 3.0)],
        "etype string, d date, user_id long, v double",
    ).withColumn("__segment__", F.date_format("d", "yyyy-MM-dd")).write.mode(
        "append"
    ).partitionBy("__segment__").parquet(rt_dir)
    rows, n_ext = _run_counting_extends(eng, monkeypatch)
    assert n_ext >= 1, "uncovered tail file must re-run the extend"
    # the new purchase user is counted: correctness never waits for a fold.
    # purchase users = odd tail users {5,7,9,101,103} + the appended 999
    got = {r[0]: r[1] for r in rows}
    assert got["purchase"] == 6


def test_refresh_cube_folds_for_hybrid(setup, spark, monkeypatch):
    eng, rt_dir = setup
    # segments=[] => no batch cubing (boundary unchanged), maintenance only
    assert eng.refresh_cube("df_cube", segments=[]) == []
    rows, n_ext = _run_counting_extends(eng, monkeypatch)
    assert n_ext == 0
