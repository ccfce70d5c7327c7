"""Regression tests for round-5 advisor findings (ADVICE.md r5):

1. register_hybrid must refuse a realtime store without the __segment__
   column: the boundary filter is a segment comparison, and without it the
   whole realtime dir unions with the batch partials (double counting).
2. IncrementalDedup.refresh must return the DELTA pair count from the
   already-computed pairs DataFrame — no O(history) re-scan of the
   accumulated pair store per refresh.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.pipeline import dedup as D
from kylin_on_parquet_v2_spark.query.engine import OlapEngine


def test_register_hybrid_requires_segment_column(spark, tmp_path):
    """A realtime store without __segment__ cannot be split at the batch
    boundary; registration must fail loudly instead of double-counting."""
    import datetime as dt

    from kylin_on_parquet_v2_spark.metadata import (
        CubeDesc,
        DataModel,
        FunctionDesc,
        MeasureDesc,
    )

    rows = [("k0", dt.date(2024, 3, d), float(d)) for d in (1, 2)]
    df = spark.createDataFrame(rows, "k string, d date, v double")
    df.createOrReplaceTempView("nsc_fact")
    rt_dir = str(tmp_path / "rt_no_seg")
    df.write.mode("overwrite").parquet(rt_dir)  # NO __segment__ column

    eng = OlapEngine(spark, storage_dir=str(tmp_path / "cubes"))
    eng.add_model(DataModel(name="nsc_star", fact_table="nsc_fact", partition_column="d"))
    eng.build_cube(
        CubeDesc(
            name="nsc_cube",
            model_name="nsc_star",
            dimensions=("k",),
            measures=(MeasureDesc("sum_v", FunctionDesc("SUM", "v")),),
            segment_granularity="day",
        ),
        segment_range=(None, "2024-03-01"),
    )
    with pytest.raises(ValueError, match="__segment__"):
        eng.register_hybrid("nsc_cube", rt_dir, ts_col="d")


def test_incremental_refresh_returns_delta_pair_count(spark, tmp_path):
    """refresh() returns pairs found in THIS delta, not the accumulated
    store total (which would also cost an O(history) scan per refresh)."""
    rows = [(i, f"the quick brown fox document number shared body {i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    inc = D.IncrementalDedup(spark, str(tmp_path / "inc"), k=8, bands=4)
    n1 = inc.refresh(docs.filter(F.col("doc_id") < 6))
    n2 = inc.refresh(docs.filter(F.col("doc_id") >= 6))
    total = inc.pairs().count()
    assert n1 > 0 and n2 > 0
    # the second return is the second delta's contribution only: strictly
    # fewer than the accumulated store (pre-fix it returned the total)
    assert n2 < total
    assert n1 <= total


def test_ngram_jaccard_cap_defaults_on():
    """The scale-safe df cap is the default; None is an explicit opt-out."""
    sig = inspect.signature(D.ngram_jaccard_pairs)
    assert sig.parameters["max_df"].default == 1000
