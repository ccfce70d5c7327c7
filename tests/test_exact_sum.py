"""Exact re-merge of stored double SUM partials.

A routed answer re-merges per-row SUM partials of a layout. A plain double
``sum`` of them depends on scan order, so the partition count or segment
layout could pick the last bit (and with it a rounded cent). Every re-merge
of double SUM partials sums them exactly and rounds once: the answer
equals ``math.fsum`` of the partials however they are read. Partials off
the exact range (NaN, infinities, 2**62 and more, bits below 2**-62) and
sums past DECIMAL(38,0) give what ``sum`` gives. These cases run over
hand-made layout frames; no cube is built.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from kylin_on_parquet_v2_spark.cube import dictionary as GD
from kylin_on_parquet_v2_spark.cube.measures import reagg_from_layout
from kylin_on_parquet_v2_spark.metadata.cube import FunctionDesc, MeasureDesc
from kylin_on_parquet_v2_spark.query.router import fold_word_bags, join_counts, merge_column

#: partials whose scan-order double sum depends on the order: 1e16 + 1.0
#: rounds the 1.0 away
PARTIALS = [1e16, 1.0, -1e16, 3.5, 2.0**-10, -7.25, 123456.789, 0.1, 0.2, -1e15, 1e15]


def _layouts(spark, values, counts=None):
    """The same layout rows read as one partition and as several."""
    counts = counts or [1] * len(values)
    df = spark.createDataFrame(
        [("g", v, c) for v, c in zip(values, counts)], "k string, s double, c long"
    )
    return [df.coalesce(1), df.repartition(3), df.repartition(5, "s")]


def _one(df, col):
    rows = df.groupBy("k").agg(col.alias("v")).collect()
    assert len(rows) == 1
    return rows[0].v


def test_sum_merge_is_exact_and_order_free(spark):
    got = {
        _one(df, merge_column("SUM", "s", df.schema)) for df in _layouts(spark, PARTIALS)
    }
    assert got == {math.fsum(PARTIALS)}
    # the plain scan-order sum loses the 1.0 in one partition
    assert _one(_layouts(spark, PARTIALS)[0], F.sum("s")) != math.fsum(PARTIALS)


def test_avg_numerator_is_exact(spark):
    counts = list(range(1, len(PARTIALS) + 1))
    got = {
        _one(df, merge_column("AVG", ("s", "c"), df.schema))
        for df in _layouts(spark, PARTIALS, counts)
    }
    assert got == {math.fsum(PARTIALS) / sum(counts)}


def test_result_is_rounded_once(spark):
    """A sum just above a tie rounds once, up: 2**53 + 1 alone is a tie
    that rounds to even, and the 0.5 behind it breaks it."""
    values = [2.0**53, 1.0, 0.5]
    got = {_one(df, merge_column("SUM", "s", df.schema)) for df in _layouts(spark, values)}
    assert got == {math.fsum(values)} == {2.0**53 + 2.0}


def test_ten_tenths_sum_to_one(spark):
    """Ten partials of 0.1 sum exactly to 1.0000000000000000555, which
    rounds to 1.0; the scan-order double sum gives 0.9999999999999999."""
    df = _layouts(spark, [0.1] * 10)[0]
    assert _one(df, merge_column("SUM", "s", df.schema)) == math.fsum([0.1] * 10) == 1.0
    assert _one(df, F.sum("s")) == sum([0.1] * 10) != 1.0


@pytest.mark.parametrize(
    "values",
    [
        [float("nan"), 1.0, 2.0],
        [float("inf"), 1.0],
        [float("-inf"), 1.0],
        [float("inf"), float("-inf")],
        [1e20, 1.0, -1e20],
        [2.0**62, -1.0],
        [4e18] * 6 + [1.0],
        [None, None],
    ],
    ids=["nan", "inf", "-inf", "inf-inf", "1e20", "2^62", "sum-past-decimal", "all-null"],
)
def test_out_of_range_partials_fall_back_to_sum(spark, values):
    df = _layouts(spark, values)[0]
    got = _one(df, merge_column("SUM", "s", df.schema))
    want = _one(df, F.sum("s"))
    assert (got is None and want is None) or got == want or (math.isnan(got) and math.isnan(want))


@pytest.mark.parametrize(
    "values",
    [[1e-20] * 10, [1.0, 1e-20, 3.0, -2.5e-30], [2.0**-63, 2.0**-63, 1.0]],
    ids=["tiny", "mixed-tiny", "half-grid"],
)
def test_partials_below_the_grid_fall_back_to_sum(spark, values):
    """A partial with bits below 2**-62 is not truncated: its whole group
    takes the plain sum, which keeps those bits (ten 1e-20 partials sum to
    about 1e-19, not to 0)."""
    df = _layouts(spark, values)[0]
    got = _one(df, merge_column("SUM", "s", df.schema))
    assert got == _one(df, F.sum("s"))
    assert got == pytest.approx(math.fsum(values), rel=1e-15)
    m = MeasureDesc("s", FunctionDesc("SUM", "x"))
    assert _one(df, reagg_from_layout(m, df.schema)) == got


def test_tiny_partials_on_the_grid_stay_exact(spark):
    """A partial below 2**-10 whose bits all lie on the 2**-62 grid still
    sums exactly: 2**-62 survives beside 1.0 and -1.0, where the
    scan-order sum rounds it away."""
    values = [2.0**-62, 1.0, -1.0, 2.0**-40]
    got = {_one(df, merge_column("SUM", "s", df.schema)) for df in _layouts(spark, values)}
    assert got == {math.fsum(values)} == {2.0**-62 + 2.0**-40}
    assert _one(_layouts(spark, values)[0], F.sum("s")) != math.fsum(values)


def test_null_partials_are_skipped(spark):
    values = [1e16, None, 1.0, -1e16]
    got = {_one(df, merge_column("SUM", "s", df.schema)) for df in _layouts(spark, values)}
    assert got == {1.0}


def test_integer_long_and_decimal_sums_keep_their_types(spark):
    df = spark.createDataFrame([("g", 1, 2, 1.5)], "k string, i int, l long, d double")
    df = df.withColumn("d", F.col("d").cast(DecimalType(19, 4)))
    out = df.groupBy("k").agg(
        *[merge_column("SUM", c, df.schema).alias(c) for c in ("i", "l", "d")],
        merge_column("AVG", ("d", "l"), df.schema).alias("a"),
    )
    # a decimal SUM is cast back to its stored type, pushdown's SUM type
    stored_sum = F.sum("d").cast(DecimalType(19, 4))
    plain = df.groupBy("k").agg(
        F.sum("i").alias("i"), F.sum("l").alias("l"), stored_sum.alias("d"),
        (stored_sum / F.sum("l")).alias("a"),
    )
    assert out.dtypes == plain.dtypes
    assert out.collect() == plain.collect()


@pytest.mark.parametrize(
    "values", [PARTIALS, [4e18] * 12 + [1.0, -3.0]], ids=["exact", "sum-past-decimal"]
)
def test_fold_matches_join_path_on_double_sums(spark, values):
    """The word-bag fold carries the exact-sum state through both of its
    levels: the same value as the one-level join path, also where the sum
    is past DECIMAL(38,0) and both fall back to ``sum``."""
    raw = spark.createDataFrame(
        [(i % 2, i, v) for i, v in enumerate(values)], "k int, v long, s double"
    )
    layout = join_counts(
        raw.withColumn("c", F.lit(1).cast("long")),
        GD.bitmap_build_agg(raw, ["k", "v"], "v", "bm"),
        ["k", "v"],
        "bm",
        None,
    )
    plain = [("s", "SUM", "s"), ("a", "AVG", ("s", "c"))]
    for df in (layout.coalesce(1), layout.repartition(4)):
        folded = fold_word_bags(df, ["k"], [("nd", "bm", None)], plain, df.schema)
        joined = df.groupBy("k").agg(
            *[merge_column(f, c, df.schema).alias(n) for n, f, c in plain]
        )
        got = {r.k: (r.s, r.a, r.nd) for r in folded.collect()}
        assert {k: v[:2] for k, v in got.items()} == {r.k: (r.s, r.a) for r in joined.collect()}
        for k in (0, 1):
            part = values[k::2]
            assert got[k][2] == len(part)
            if values is PARTIALS:
                assert got[k][:2] == (math.fsum(part), math.fsum(part) / len(part))


def test_child_layout_stores_exact_sum(spark):
    """Build side: a child layout (or a merged segment) stores the exact
    sum of its parent's double partials."""
    m = MeasureDesc("s", FunctionDesc("SUM", "x"))
    for df in _layouts(spark, PARTIALS):
        assert _one(df, reagg_from_layout(m, df.schema)) == math.fsum(PARTIALS)
