"""Time-grain routing rewrite (round-11 verdict item 1 —
TimeDerivedColumnType.java:35-151 parity).

A cube stores derived event-time dims (hour_start = date_trunc('hour', ts));
queries SPELLED over the raw ts column — GROUP BY date_trunc('hour', ts),
year(ts), WHERE date_trunc('day', ts) < ... — must route onto the stored
dims instead of falling to a pushdown fact scan, and the routed answer must
be hash-identical to the pushdown one (validate=True enforces this).

Adversarial cases: week does NOT serve month/quarter/year (a week's Monday
can precede the month), coarser grains recompute from finer stored dims,
bare raw-ts predicates stay unroutable, and the rewrite leaves foreign
digests untouched.
"""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.metadata import (
    CubeDesc,
    DataModel,
    FunctionDesc,
    MeasureDesc,
    TimeDerivedDim,
)
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from kylin_on_parquet_v2_spark.query.time_rewrite import _substitute, time_derived_map

ROWS = [
    # two days, several hours, two event types; 2023-12-31 is a Sunday of
    # the ISO week starting Monday 2023-12-25 (the week/month trap)
    ("2023-12-31 23:10:00", "view", 1.0),
    ("2024-01-01 00:20:00", "view", 2.0),
    ("2024-01-01 01:30:00", "click", 3.0),
    ("2024-01-01 01:45:00", "view", 4.0),
    ("2024-01-02 10:00:00", "click", 5.0),
    ("2024-02-15 12:00:00", "view", 6.0),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    spark.createDataFrame(ROWS, "s string, etype string, v double").selectExpr(
        "cast(s as timestamp) as ts", "etype", "v"
    ).createOrReplaceTempView("tg_events")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("tg_cubes")))
    eng.add_model(
        DataModel(
            name="tg_star",
            fact_table="tg_events",
            computed_columns={
                "day_start": "date_trunc('day', ts)",
                "hour_start": "date_trunc('hour', ts)",
            },
        )
    )
    eng.build_cube(
        CubeDesc(
            name="tg_cube",
            model_name="tg_star",
            dimensions=("day_start", "hour_start", "etype"),
            measures=(
                MeasureDesc("_cnt", FunctionDesc("COUNT")),
                MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
            ),
        )
    )
    return eng


# ---- unit: the substitution engine ---------------------------------------


def test_substitute_exact_and_recomputed_grains():
    grains = {"hour": "hour_start", "day": "day_start"}
    # exact grain -> bare dim
    assert _substitute("date_trunc('hour', ts)", "ts", grains) == (
        "hour_start",
        {"hour_start"},
    )
    # coarser grain -> recomputed from the COARSEST valid stored dim
    assert _substitute("date_trunc('month', ts)", "ts", grains) == (
        "date_trunc('month', day_start)",
        {"day_start"},
    )
    # extract-style functions ride the day dim
    assert _substitute("year(CAST(ts AS DATE))", "ts", grains) == (
        "year(CAST(day_start AS DATE))",
        {"day_start"},
    )
    assert _substitute("extract('year' FROM ts)", "ts", grains) == (
        "extract(YEAR FROM day_start)",
        {"day_start"},
    )
    assert _substitute("to_date(ts)", "ts", grains) == (
        "to_date(day_start)",
        {"day_start"},
    )


def test_substitute_week_never_serves_month():
    # only week stored: month/quarter/year must refuse (week misaligns)
    assert _substitute("date_trunc('month', ts)", "ts", {"week": "week_start"}) is None
    assert _substitute("year(CAST(ts AS DATE))", "ts", {"week": "week_start"}) is None
    # but week itself is exact
    assert _substitute("date_trunc('week', ts)", "ts", {"week": "week_start"}) == (
        "week_start",
        {"week_start"},
    )
    # and day-stored serves week
    assert _substitute("date_trunc('week', ts)", "ts", {"day": "day_start"}) == (
        "date_trunc('week', day_start)",
        {"day_start"},
    )


def test_substitute_all_or_nothing():
    grains = {"hour": "hour_start"}
    # a bare raw-ts reference alongside a servable call: refuse entirely
    assert _substitute("date_trunc('hour', ts) = ts", "ts", grains) is None
    # raw ts inside a string literal is NOT a reference
    out, used = _substitute("date_trunc('hour', ts) || 'ts'", "ts", grains)
    assert out == "hour_start || 'ts'" and used == {"hour_start"}


def test_time_derived_map_merges_declared_and_computed(spark, engine):
    inst = engine.cubes["tg_cube"]
    assert time_derived_map(inst) == {
        "ts": {"day": "day_start", "hour": "hour_start"}
    }


# ---- engine: routed, validated, plan-asserted ----------------------------


def _assert_no_fact_scan(engine, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "tg_events" not in plan, plan


def test_group_by_date_trunc_routes_exact_grain(engine):
    df = engine.sql(
        """
        select date_trunc('hour', ts) as hour_start,
               count(*) as n, sum(v) as sum_v
        from tg_events
        group by date_trunc('hour', ts)
        order by hour_start
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None, "expected routed time-grain rewrite"
    assert set(route.cuboid.dims) == {"hour_start"}, route.cuboid
    _assert_no_fact_scan(engine, df)
    rows = df.collect()
    assert len(rows) == 5 and rows[1].n == 1 and rows[2].n == 2


def test_group_and_filter_rewrite_together(engine):
    df = engine.sql(
        """
        select date_trunc('day', ts) as d, sum(v) as sum_v
        from tg_events
        where date_trunc('day', ts) < timestamp '2024-01-02 00:00:00'
        group by date_trunc('day', ts)
        order by d
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and set(route.cuboid.dims) == {"day_start"}
    got = [(str(r.d), r.sum_v) for r in df.collect()]
    assert got == [
        ("2023-12-31 00:00:00", 1.0),
        ("2024-01-01 00:00:00", 9.0),
    ]


def test_year_month_extract_recomputed_from_day(engine):
    df = engine.sql(
        """
        select year(ts) as y, month(ts) as m, count(*) as n
        from tg_events
        group by year(ts), month(ts)
        order by y, m
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None and set(route.cuboid.dims) == {"day_start"}
    assert [(r.y, r.m, r.n) for r in df.collect()] == [
        (2023, 12, 1),
        (2024, 1, 4),
        (2024, 2, 1),
    ]


def test_filter_only_rewrite_with_plain_dims(engine):
    df = engine.sql(
        """
        select etype, count(*) as n
        from tg_events
        where year(ts) = 2024
        group by etype
        order by etype
        """,
        validate=True,
    )
    assert engine.last_route is not None
    assert {r.etype: r.n for r in df.collect()} == {"click": 2, "view": 3}


def test_bare_ts_predicate_stays_pushdown(engine):
    # an UNALIGNED raw-ts bound (00:30 is no stored grain boundary) and an
    # exclusive `>` (no truncation equivalence) are both unservable
    df = engine.sql(
        """
        select etype, count(*) as n from tg_events
        where ts >= timestamp '2024-01-01 00:30:00'
        group by etype order by etype
        """
    )
    assert engine.last_route is None  # unaligned raw-ts range: pushdown
    # the 00:20 view is (correctly) excluded by the 00:30 bound
    assert {r.etype: r.n for r in df.collect()} == {"click": 2, "view": 2}
    engine.sql(
        "select etype, count(*) as n from tg_events "
        "where ts > timestamp '2024-01-01 00:00:00' group by etype"
    )
    assert engine.last_route is None


def test_declared_time_derived_dim_on_prestamped_table(spark, tmp_path_factory):
    """The streaming-store shape: the fact table ALREADY has the stamped
    column (no computed_columns) and the cube DECLARES the mapping."""
    spark.createDataFrame(ROWS, "s string, etype string, v double").selectExpr(
        "cast(s as timestamp) as ts",
        "date_trunc('week', cast(s as timestamp)) as week_start",
        "etype",
        "v",
    ).createOrReplaceTempView("tg_week_events")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("tgw_cubes")))
    eng.add_model(DataModel(name="tgw_star", fact_table="tg_week_events"))
    eng.build_cube(
        CubeDesc(
            name="tgw_cube",
            model_name="tgw_star",
            dimensions=("week_start", "etype"),
            measures=(MeasureDesc("_cnt", FunctionDesc("COUNT")),),
            time_derived=(TimeDerivedDim("week_start", "ts", "week"),),
        )
    )
    df = eng.sql(
        """
        select date_trunc('week', ts) as w, count(*) as n
        from tg_week_events group by date_trunc('week', ts) order by w
        """,
        validate=True,
    )
    assert eng.last_route is not None
    assert set(eng.last_route.cuboid.dims) == {"week_start"}
    assert [r.n for r in df.collect()] == [1, 4, 1]

    # the week/month trap END TO END: month cannot be served by week-only
    eng.sql(
        "select date_trunc('month', ts) as m, count(*) as n "
        "from tg_week_events group by date_trunc('month', ts)"
    )
    assert eng.last_route is None


def test_substitute_second_grain():
    """Second-grain serving (r13, VERDICT r12 item 7): the rewrite's
    lattice generalizes one grain finer — second(ts), ss-bearing
    date_format patterns, and second-aligned bounds all serve from a
    declared second-grain dim; fractional seconds still refuse."""
    both = {"second": "second_start", "minute": "minute_start"}
    only_s = {"second": "second_start"}
    assert _substitute("second(ts)", "ts", both) == (
        "second(second_start)",
        {"second_start"},
    )
    # coarser parts prefer the coarser stored dim, recompute from second
    # when it's the only one stored
    assert _substitute("minute(ts)", "ts", both) == (
        "minute(minute_start)",
        {"minute_start"},
    )
    assert _substitute("minute(ts)", "ts", only_s) == (
        "minute(second_start)",
        {"second_start"},
    )
    assert _substitute("date_trunc('second', ts)", "ts", both) == (
        "second_start",
        {"second_start"},
    )
    # second-aligned range bound folds; a sub-second literal refuses
    assert _substitute(
        "ts >= TIMESTAMP '2024-01-01 10:20:30'", "ts", only_s
    ) == ("second_start >= TIMESTAMP '2024-01-01 10:20:30'", {"second_start"})
    assert (
        _substitute("ts >= TIMESTAMP '2024-01-01 10:20:30.5'", "ts", only_s)
        is None
    )
    # seconds-precision formats now serve; fractional seconds never
    assert _substitute(
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss')", "ts", only_s
    ) == ("date_format(second_start, 'yyyy-MM-dd HH:mm:ss')", {"second_start"})
    assert (
        _substitute("date_format(ts, 'HH:mm:ss.SSS')", "ts", only_s) is None
    )


def test_second_grain_routes_end_to_end(spark, tmp_path_factory):
    """A cube declaring a second-grain dim serves second(ts) group-bys and
    the seconds-precision date_format spelling from the cuboid."""
    rows = [
        ("2024-01-01 10:00:01.200", "view", 1.0),
        ("2024-01-01 10:00:01.700", "view", 2.0),
        ("2024-01-01 10:00:02.100", "click", 3.0),
        ("2024-01-01 10:00:59.900", "view", 4.0),
    ]
    spark.createDataFrame(rows, "s string, etype string, v double").selectExpr(
        "cast(s as timestamp) as ts",
        "date_trunc('second', cast(s as timestamp)) as second_start",
        "etype",
        "v",
    ).createOrReplaceTempView("tg_sec_events")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("tgs_cubes")))
    eng.add_model(DataModel(name="tgs_star", fact_table="tg_sec_events"))
    eng.build_cube(
        CubeDesc(
            name="tgs_cube",
            model_name="tgs_star",
            dimensions=("second_start", "etype"),
            measures=(MeasureDesc("_cnt", FunctionDesc("COUNT")),),
            time_derived=(TimeDerivedDim("second_start", "ts", "second"),),
        )
    )
    df = eng.sql(
        """
        select second(ts) as sec, count(*) as n
        from tg_sec_events group by second(ts) order by sec
        """,
        validate=True,
    )
    assert eng.last_route is not None, "second(ts) must route via the dim"
    assert set(eng.last_route.cuboid.dims) == {"second_start"}
    assert [(r.sec, r.n) for r in df.collect()] == [(1, 2), (2, 1), (59, 1)]
    df2 = eng.sql(
        """
        select date_format(ts, 'HH:mm:ss') as hms, count(*) as n
        from tg_sec_events group by date_format(ts, 'HH:mm:ss') order by hms
        """,
        validate=True,
    )
    assert eng.last_route is not None
    assert [(r.hms, r.n) for r in df2.collect()] == [
        ("10:00:01", 2),
        ("10:00:02", 1),
        ("10:00:59", 1),
    ]
    # sub-second truncation cannot be served: honest pushdown
    eng.sql(
        "select date_format(ts, 'HH:mm:ss.SSS') as t, count(*) as n "
        "from tg_sec_events group by date_format(ts, 'HH:mm:ss.SSS')"
    )
    assert eng.last_route is None


# ---- raw-ts range folding (aligned literals only) ------------------------


def test_substitute_aligned_range_predicates():
    grains = {"hour": "hour_start", "day": "day_start"}
    # day-aligned literal -> coarsest valid stored dim (day_start)
    assert _substitute(
        "(ts >= TIMESTAMP '2024-01-02 00:00:00')", "ts", grains
    ) == ("(day_start >= TIMESTAMP '2024-01-02 00:00:00')", {"day_start"})
    # hour-aligned (not day-aligned) -> hour_start
    assert _substitute(
        "(ts < TIMESTAMP '2024-01-02 13:00:00')", "ts", grains
    ) == ("(hour_start < TIMESTAMP '2024-01-02 13:00:00')", {"hour_start"})
    # DATE-cast spelling folds too
    out, used = _substitute(
        "(ts >= CAST(DATE '2024-01-02' AS TIMESTAMP))", "ts", grains
    )
    assert out == "(day_start >= CAST(DATE '2024-01-02' AS TIMESTAMP))"
    # UNALIGNED literal: no stored grain preserves the bound -> refuse
    assert (
        _substitute("(ts >= TIMESTAMP '2024-01-02 13:37:00')", "ts", grains)
        is None
    )
    # `>` has no truncation equivalence -> refuse (left as bare ts)
    assert (
        _substitute("(ts > TIMESTAMP '2024-01-02 00:00:00')", "ts", grains)
        is None
    )


def test_raw_ts_range_routes_end_to_end(engine):
    df = engine.sql(
        """
        select etype, count(*) as n, sum(v) as sum_v
        from tg_events
        where ts >= timestamp '2024-01-01 00:00:00'
          and ts < timestamp '2024-02-01 00:00:00'
        group by etype
        order by etype
        """,
        validate=True,
    )
    assert engine.last_route is not None, "aligned raw-ts range must route"
    assert {r.etype: r.n for r in df.collect()} == {"click": 2, "view": 2}

    # unaligned bound: honest pushdown
    engine.sql(
        "select etype, count(*) as n from tg_events "
        "where ts >= timestamp '2024-01-01 00:30:00' group by etype"
    )
    assert engine.last_route is None


def test_declared_dim_auto_stamped_at_build(spark, tmp_path_factory):
    """A declared TimeDerivedDim whose column the source does NOT carry is
    stamped by the build itself (reference parity: the ingest parser
    computes *_start columns automatically) — declaring the mapping is
    sufficient, no pre-stamped view or computed column needed."""
    spark.createDataFrame(ROWS, "s string, etype string, v double").selectExpr(
        "cast(s as timestamp) as ts", "etype", "v"
    ).createOrReplaceTempView("tg_auto_events")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("tga_cubes")))
    eng.add_model(DataModel(name="tga_star", fact_table="tg_auto_events"))
    eng.build_cube(
        CubeDesc(
            name="tga_cube",
            model_name="tga_star",
            dimensions=("day_start", "etype"),
            measures=(MeasureDesc("_cnt", FunctionDesc("COUNT")),),
            time_derived=(TimeDerivedDim("day_start", "ts", "day"),),
        )
    )
    df = eng.sql(
        "select date_trunc('day', ts) as d, count(*) as n "
        "from tg_auto_events group by date_trunc('day', ts) order by d",
        validate=True,
    )
    assert eng.last_route is not None
    assert set(eng.last_route.cuboid.dims) == {"day_start"}
    assert [r.n for r in df.collect()] == [1, 3, 1, 1]


def test_substitute_sibling_column_name_not_mangled():
    """r11 advisor (high): a column whose name merely ENDS with the source
    name must not match the range patterns. With source ``ts``, the filter
    ``created_ts >= T AND ts >= T`` previously rewrote the ``ts``-suffix of
    ``created_ts`` into a nonexistent ``created_day_start``; with the left
    boundary anchored, created_ts is untouched (it stays in filter_cols for
    ordinary dim coverage) while the genuine ts ref folds."""
    grains = {"day": "day_start"}
    out, used = _substitute(
        "(created_ts >= TIMESTAMP '2024-01-02 00:00:00') AND "
        "(ts >= TIMESTAMP '2024-01-03 00:00:00')",
        "ts",
        grains,
    )
    assert out == (
        "(created_ts >= TIMESTAMP '2024-01-02 00:00:00') AND "
        "(day_start >= TIMESTAMP '2024-01-03 00:00:00')"
    )
    assert used == {"day_start"}
    # a filter over ONLY the sibling column is simply not ts-relevant:
    # no occurrence of the bare source, nothing rewritten, nothing broken
    out, used = _substitute(
        "(created_ts >= TIMESTAMP '2024-01-02 00:00:00') AND "
        "(date_trunc('day', ts) < TIMESTAMP '2024-01-05 00:00:00')",
        "ts",
        grains,
    )
    assert "created_ts >= TIMESTAMP '2024-01-02 00:00:00'" in out
    assert "day_start < TIMESTAMP '2024-01-05 00:00:00'" in out
    assert used == {"day_start"}
    # qualified references refuse conservatively
    assert (
        _substitute("a.ts >= TIMESTAMP '2024-01-02 00:00:00'", "ts", grains)
        is None
    )


def test_substitute_hour_minute_part_functions():
    """Sub-day part functions (TimeDerivedColumnType.java:35-80
    MINUTE_START/HOUR_START): hour(ts) needs an hour-or-finer stored
    grain, minute(ts) strictly minute."""
    hd = {"hour": "hour_start", "day": "day_start"}
    assert _substitute("hour(ts)", "ts", hd) == ("hour(hour_start)", {"hour_start"})
    # day truncation destroys the hour -> day-only refuses
    assert _substitute("hour(ts)", "ts", {"day": "day_start"}) is None
    # minute needs minute; hour-stored refuses
    assert _substitute("minute(ts)", "ts", hd) is None
    assert _substitute("minute(ts)", "ts", {"minute": "minute_start"}) == (
        "minute(minute_start)",
        {"minute_start"},
    )
    # extract spelling rides the same table
    assert _substitute("extract(hour FROM ts)", "ts", hd) == (
        "extract(HOUR FROM hour_start)",
        {"hour_start"},
    )


def test_substitute_inclusive_range_epsilon_fold():
    """Catalyst desugars BETWEEN into >= AND <= before the digest exists,
    so the closed-range end arrives as ``ts <= T``: it folds exactly when
    T + 1 microsecond (the timestamp type's resolution) is a grain
    boundary — the canonical dashboard BETWEEN ending 23:59:59.999999.
    ``>`` folds symmetrically to >= T+1us."""
    grains = {"hour": "hour_start", "day": "day_start"}
    # inclusive end one microsecond before a day boundary folds exactly
    out, used = _substitute(
        "(ts >= TIMESTAMP '2024-01-01 00:00:00') AND "
        "(ts <= TIMESTAMP '2024-01-02 23:59:59.999999')",
        "ts",
        grains,
    )
    assert out == (
        "(day_start >= TIMESTAMP '2024-01-01 00:00:00') AND "
        "(day_start < TIMESTAMP '2024-01-03 00:00:00')"
    )
    assert used == {"day_start"}
    # hour-aligned epsilon end rides the hour dim
    out, used = _substitute(
        "ts <= TIMESTAMP '2024-01-01 12:59:59.999999'", "ts", grains
    )
    assert out == "hour_start < TIMESTAMP '2024-01-01 13:00:00'"
    # > folds through the same epsilon: ts > T <=> ts >= T+1us
    out, used = _substitute(
        "ts > TIMESTAMP '2023-12-31 23:59:59.999999'", "ts", grains
    )
    assert out == "day_start >= TIMESTAMP '2024-01-01 00:00:00'"
    # an end sitting EXACTLY on a boundary is inclusive of that instant
    # and has no truncation equivalence -> refuse
    assert (
        _substitute("ts <= TIMESTAMP '2024-01-02 00:00:00'", "ts", grains)
        is None
    )
    # unaligned epsilon end refuses
    assert (
        _substitute("ts <= TIMESTAMP '2024-01-01 23:59:59'", "ts", grains)
        is None
    )
    # the between(ts, lo, hi) call form (how Spark 4's analyzed plan
    # renders BETWEEN) folds to a parenthesized half-open conjunction
    out, used = _substitute(
        "between(ts, TIMESTAMP '2024-01-01 00:00:00', "
        "TIMESTAMP '2024-01-31 23:59:59.999999')",
        "ts",
        grains,
    )
    assert out == (
        "(day_start >= TIMESTAMP '2024-01-01 00:00:00' "
        "AND day_start < TIMESTAMP '2024-02-01 00:00:00')"
    )
    assert used == {"day_start"}
    # boundary-inclusive hi refuses
    assert (
        _substitute(
            "between(ts, TIMESTAMP '2024-01-01 00:00:00', "
            "TIMESTAMP '2024-02-01 00:00:00')",
            "ts",
            grains,
        )
        is None
    )


def test_substitute_bare_cast_date():
    """A bare CAST(ts AS DATE) (GROUP BY / filter spelling) rides any
    day-or-finer stored grain, while year(CAST(ts AS DATE)) keeps its
    LESS restrictive rule (a month-grain dim serves year() but cannot
    serve the bare cast)."""
    grains = {"day": "day_start"}
    assert _substitute("CAST(ts AS DATE)", "ts", grains) == (
        "CAST(day_start AS DATE)",
        {"day_start"},
    )
    out, used = _substitute(
        "CAST(ts AS DATE) = DATE '2024-01-01'", "ts", grains
    )
    assert out == "CAST(day_start AS DATE) = DATE '2024-01-01'"
    # part functions over the cast still use the part rule: month-grain
    # serves year(...) but refuses the bare cast
    assert _substitute(
        "year(CAST(ts AS DATE))", "ts", {"month": "month_start"}
    ) == ("year(CAST(month_start AS DATE))", {"month_start"})
    assert _substitute("CAST(ts AS DATE)", "ts", {"month": "month_start"}) is None


def test_substitute_date_format():
    """date_format(ts, fmt) needs the grain of the FINEST pattern letter;
    week-based letters (Y = week-based year, w = week-of-year), unknown
    letters, and embedded quoted literals refuse."""
    grains = {"hour": "hour_start", "day": "day_start"}
    assert _substitute("date_format(ts, 'yyyy-MM-dd')", "ts", grains) == (
        "date_format(day_start, 'yyyy-MM-dd')",
        {"day_start"},
    )
    # month-only format rides the coarsest valid grain (still day here)
    assert _substitute("date_format(ts, 'yyyy-MM')", "ts", grains) == (
        "date_format(day_start, 'yyyy-MM')",
        {"day_start"},
    )
    # hour fields need the hour dim; AM/PM is hour-derivable
    assert _substitute("date_format(ts, 'yyyy-MM-dd HH')", "ts", grains) == (
        "date_format(hour_start, 'yyyy-MM-dd HH')",
        {"hour_start"},
    )
    assert _substitute("date_format(ts, 'hh a')", "ts", grains) == (
        "date_format(hour_start, 'hh a')",
        {"hour_start"},
    )
    # minute field with only hour stored: refuse
    assert _substitute("date_format(ts, 'HH:mm')", "ts", grains) is None
    # week-based year and week-of-year never fold (the week/month trap)
    assert _substitute("date_format(ts, 'YYYY-ww')", "ts", grains) is None
    # seconds / zones / era: refuse
    assert _substitute("date_format(ts, 'yyyy-MM-dd HH:mm:ss')", "ts", grains) is None
    assert _substitute("date_format(ts, 'yyyy z')", "ts", grains) is None


def test_substitute_date_format_quoted_literals():
    """Java-time quoted literal sections (r12 judge missing #2): letters
    inside '...' are literals, not calendar fields — excluded from the
    finest-letter scan. The digest's Expression.sql() arrives with the
    quotes backslash-escaped; the rewrite re-emits standard SQL doubled
    quotes."""
    grains = {"hour": "hour_start", "day": "day_start"}
    # the ISO dashboard spelling: yyyy-MM-dd'T'HH serves from hour grain
    assert _substitute(
        r"date_format(ts, 'yyyy-MM-dd\'T\'HH')", "ts", grains
    ) == ("date_format(hour_start, 'yyyy-MM-dd''T''HH')", {"hour_start"})
    # quoted letters that would otherwise refuse (w = week-of-year)
    # contribute nothing when inside a literal section
    assert _substitute(
        r"date_format(ts, 'yyyy \'week\' dd')", "ts", grains
    ) == ("date_format(day_start, 'yyyy ''week'' dd')", {"day_start"})
    # '' inside a quoted section = escaped literal quote, still a literal
    assert _substitute(
        r"date_format(ts, 'dd\'o\'\'clock\'')", "ts", grains
    ) == ("date_format(day_start, 'dd''o''''clock''')", {"day_start"})
    # week-based letters OUTSIDE quotes still refuse
    assert (
        _substitute(r"date_format(ts, 'YYYY \'w\' ww')", "ts", grains) is None
    )
    # imbalanced quote: refuse (would throw at evaluation anyway)
    assert (
        _substitute(r"date_format(ts, 'yyyy \'T HH')", "ts", grains) is None
    )
    # letterless once literals stripped: constant output, refuse
    assert _substitute(r"date_format(ts, '\'epoch\'')", "ts", grains) is None


def test_date_format_group_by_routes_end_to_end(engine):
    df = engine.sql(
        """
        select date_format(ts, 'yyyy-MM-dd') as d, count(*) as n
        from tg_events
        group by date_format(ts, 'yyyy-MM-dd')
        order by d
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None, "date_format(ts, day fields) must route"
    assert set(route.cuboid.dims) == {"day_start"}, route.cuboid
    assert [(r.d, r.n) for r in df.collect()] == [
        ("2023-12-31", 1),
        ("2024-01-01", 3),
        ("2024-01-02", 1),
        ("2024-02-15", 1),
    ]
    # second-precision format: honest pushdown
    engine.sql(
        "select date_format(ts, 'yyyy-MM-dd HH:mm:ss') as t, count(*) as n "
        "from tg_events group by date_format(ts, 'yyyy-MM-dd HH:mm:ss')"
    )
    assert engine.last_route is None


def test_cast_date_group_by_routes_end_to_end(engine):
    df = engine.sql(
        """
        select cast(ts as date) as d, count(*) as n
        from tg_events
        group by cast(ts as date)
        order by d
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None, "bare CAST(ts AS DATE) must route via day_start"
    assert set(route.cuboid.dims) == {"day_start"}, route.cuboid
    assert [r.n for r in df.collect()] == [1, 3, 1, 1]


def test_hour_part_function_routes_end_to_end(engine):
    df = engine.sql(
        """
        select hour(ts) as h, count(*) as n, sum(v) as sum_v
        from tg_events
        group by hour(ts)
        order by h
        """,
        validate=True,
    )
    route = engine.last_route
    assert route is not None, "hour(ts) must route via the stored hour dim"
    assert set(route.cuboid.dims) == {"hour_start"}, route.cuboid
    got = {r.h: r.n for r in df.collect()}
    assert got == {0: 1, 1: 2, 10: 1, 12: 1, 23: 1}
    # minute(ts) has no minute-grain dim on this cube: honest pushdown
    engine.sql(
        "select minute(ts) as m, count(*) as n from tg_events "
        "group by minute(ts)"
    )
    assert engine.last_route is None


def test_between_routes_end_to_end(engine):
    df = engine.sql(
        """
        select etype, count(*) as n, sum(v) as sum_v
        from tg_events
        where ts between timestamp '2024-01-01 00:00:00'
                     and timestamp '2024-01-31 23:59:59.999999'
        group by etype
        order by etype
        """,
        validate=True,
    )
    assert engine.last_route is not None, "aligned BETWEEN must route"
    assert {r.etype: r.n for r in df.collect()} == {"click": 2, "view": 2}
    # boundary-inclusive BETWEEN (end exactly midnight) refuses -> pushdown
    engine.sql(
        "select etype, count(*) as n from tg_events "
        "where ts between timestamp '2024-01-01 00:00:00' "
        "and timestamp '2024-02-01 00:00:00' group by etype"
    )
    assert engine.last_route is None


def test_rewrite_survives_route_memo_replay(engine):
    """The same BI-spelled query twice: the second run replays the
    memoized route and must produce identical rows (the rewrite is
    deterministic, so the replayed execute path lands on the same
    rewritten digest)."""
    sql = (
        "select date_trunc('hour', ts) as h, count(*) as n "
        "from tg_events group by date_trunc('hour', ts) order by h"
    )
    first = [tuple(r) for r in engine.sql(sql).collect()]
    assert engine.last_route is not None
    second = [tuple(r) for r in engine.sql(sql).collect()]
    assert engine.last_route is not None
    assert first == second and len(first) == 5


def test_rewrite_on_hybrid_cube(spark, tmp_path_factory):
    """Time-grain rewrite composed with the hybrid realization: the batch
    side serves the rewritten dim from layouts while the tail evaluates
    the ORIGINAL expression over its raw ts — both compute the same value,
    so the merged answer equals pushdown."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 3, d, h), "view", 1.0)
        for d in (1, 2, 3, 4)
        for h in (0, 6, 12)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, etype string, v double")
    df.createOrReplaceTempView("tgh_fact")
    rt_dir = str(tmp_path_factory.mktemp("tgh_rt"))
    from pyspark.sql import functions as F

    df.withColumn(
        "__segment__", F.date_format("ts", "yyyy-MM-dd")
    ).write.mode("overwrite").partitionBy("__segment__").parquet(rt_dir)
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("tgh_cubes")))
    eng.add_model(
        DataModel(name="tgh_star", fact_table="tgh_fact", partition_column="ts")
    )
    eng.build_cube(
        CubeDesc(
            name="tgh_cube",
            model_name="tgh_star",
            dimensions=("etype", "day_start"),
            measures=(
                MeasureDesc("_cnt", FunctionDesc("COUNT")),
                MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
            ),
            segment_granularity="day",
            time_derived=(TimeDerivedDim("day_start", "ts", "day"),),
        ),
        segment_range=(None, "2024-03-02"),
    )
    eng.register_hybrid("tgh_cube", rt_dir, ts_col="ts")
    sql = (
        "select date_trunc('day', ts) as d, count(*) as n, sum(v) as sv "
        "from tgh_fact group by date_trunc('day', ts) order by d"
    )
    got = [tuple(r) for r in eng.sql(sql).collect()]
    route = eng.last_route
    assert route is not None and route.hybrid_tail, route
    want = [tuple(r) for r in eng.pushdown(sql).collect()]
    assert got == want and len(got) == 4


def test_explain_reports_time_rewrite(engine):
    txt = engine.explain(
        "select date_trunc('hour', ts) as h, count(*) as n "
        "from tg_events group by date_trunc('hour', ts)"
    )
    assert "time_rewritten=('hour_start',)" in txt, txt


def test_ts_range_fold_feeds_segment_pruning(spark, tmp_path_factory):
    """The folded raw-ts range must reach SEGMENT pruning: after the
    rewrite the predicate sits on the day_start dim whose per-segment
    min/max ranges are recorded, so out-of-range day segments are
    rejected before any file is read."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 3, d, h), "view", 1.0)
        for d in (1, 2, 3, 4)
        for h in (0, 12)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, etype string, v double"
    ).createOrReplaceTempView("tgp_fact")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("tgp_cubes")))
    eng.add_model(
        DataModel(name="tgp_star", fact_table="tgp_fact", partition_column="ts")
    )
    eng.build_cube(
        CubeDesc(
            name="tgp_cube",
            model_name="tgp_star",
            dimensions=("etype", "day_start"),
            measures=(MeasureDesc("_cnt", FunctionDesc("COUNT")),),
            segment_granularity="day",
            time_derived=(TimeDerivedDim("day_start", "ts", "day"),),
        )
    )
    df = eng.sql(
        "select etype, count(*) as n from tgp_fact "
        "where ts >= timestamp '2024-03-01 00:00:00' "
        "  and ts < timestamp '2024-03-02 00:00:00' "
        "group by etype",
        validate=True,
    )
    route = eng.last_route
    assert route is not None and route.time_rewritten == ("day_start",), route
    # 3 of the 4 day segments are provably out of the folded range
    assert route.segment_filters or len(route.segment_reject) == 3, route
    assert [r.n for r in df.collect()] == [2]


def test_substitute_extract_second_spelling():
    """r13 review: the extract() alternation must cover SECOND, or the BI
    spelling of a servable second-grain part silently falls to pushdown
    while second(ts) routes."""
    only_s = {"second": "second_start"}
    assert _substitute("extract('second' FROM ts)", "ts", only_s) == (
        "extract(SECOND FROM second_start)",
        {"second_start"},
    )
    assert _substitute("extract(second FROM ts)", "ts", only_s) == (
        "extract(SECOND FROM second_start)",
        {"second_start"},
    )


def test_substitute_datefmt_backslash_literal_refuses():
    """r13 review: a format with a LITERAL backslash (digest renders it
    backslash-escaped) must refuse — re-emission would round-trip
    differently depending on spark.sql.parser.escapedStringLiterals, so
    folding could serve a silently different rendering."""
    grains = {"month": "month_start"}
    # digest spelling of date_format(ts, 'yyyy\MM'): the backslash arrives
    # escaped as \\
    assert _substitute(r"date_format(ts, 'yyyy\\MM')", "ts", grains) is None
    # sanity: the same pattern without the backslash still folds
    assert _substitute("date_format(ts, 'yyyyMM')", "ts", grains) == (
        "date_format(month_start, 'yyyyMM')",
        {"month_start"},
    )
