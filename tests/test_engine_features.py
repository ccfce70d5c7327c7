"""Engine facade features: SQL transformer chain (QueryUtil.massageSql
parity) and query metrics (QueryMetrics parity)."""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from kylin_on_parquet_v2_spark.query.transformers import (
    ForcedLimitTransformer,
    strip_trailing_semicolon,
    unwrap_odbc_escapes,
)
from tests.conftest import SF_SMOKE


def test_transformer_units():
    assert strip_trailing_semicolon("select 1 ;  ") == "select 1"
    assert unwrap_odbc_escapes("select {fn UCASE(x)} from t") == "select UCASE(x) from t"
    assert (
        unwrap_odbc_escapes("select {fn CONCAT({fn UCASE(a)}, b)} from t")
        == "select CONCAT(UCASE(a), b) from t"
    )
    assert unwrap_odbc_escapes("where d = {d '2024-01-02'}") == "where d = DATE '2024-01-02'"
    assert (
        unwrap_odbc_escapes("where t = {ts '2024-01-02 03:04:05'}")
        == "where t = TIMESTAMP '2024-01-02 03:04:05'"
    )
    fl = ForcedLimitTransformer(7)
    assert fl("select * from t").endswith("LIMIT 7")
    assert fl("select * from t limit 3") == "select * from t limit 3"
    assert fl("insert into t values (1)") == "insert into t values (1)"


@pytest.fixture(scope="module")
def engine(spark, tpch_cube_store, tmp_path_factory):
    # clone of the session-built cube instead of a fresh 49-layout build
    # (r14 suite-budget fix): byte-identical layouts, same routing
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path_factory.mktemp("cubes_feat")))
    eng = OlapEngine(
        spark,
        storage_dir=d,
        max_result_rows=1000,
    )
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.load_cube(TPCH_CUBE)
    return eng


def test_odbc_escapes_run_end_to_end(engine):
    rows = engine.sql(
        "select {fn UCASE(l_returnflag)} as rf, count(*) as n "
        "from lineitem group by l_returnflag ;"
    ).collect()
    assert {r.rf for r in rows} <= {"A", "N", "R"}


def test_forced_limit_applied(engine):
    df = engine.sql("select l_orderkey from lineitem")
    assert df.count() == 1000  # unbounded select got the forced LIMIT


def test_query_metrics_track_hit_ratio(spark, tmp_path):
    """QueryMetrics parity: routed / exact / pushdown / undigestible counts
    accumulate so a deployment can watch its cuboid hit ratio."""
    from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
    from kylin_on_parquet_v2_spark.query.engine import OlapEngine
    from tests.conftest import SF_SMOKE

    eng = OlapEngine(spark, storage_dir=str(tmp_path))
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.build_cube(TPCH_CUBE)

    # exact hit
    eng.sql(
        """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
           from lineitem group by l_returnflag, l_linestatus"""
    )
    # routed, not exact (dim filter widens the cuboid past the group cols)
    eng.sql(
        """select l_linestatus, sum(l_quantity) as s from lineitem
           where l_returnflag = 'A' group by l_linestatus"""
    )
    # digestible but unroutable (non-dim filter)
    eng.sql(
        "select l_returnflag, count(*) as n from lineitem where l_quantity > 30 group by l_returnflag"
    )
    # undigestible (window over detail rows)
    eng.sql(
        """select l_orderkey, row_number() over (partition by l_orderkey order by l_linenumber) as rn
           from lineitem limit 5"""
    )
    m = eng.metrics
    assert m["routed"] == 2
    assert m["exact_hits"] == 1
    assert m["pushdown"] == 1
    assert m["undigestible"] == 1
    assert m[f"cube:{TPCH_CUBE.name}"] == 2
    # the same queries fed the planner workload
    assert sum(eng.workload.values()) == 3


def test_tableau_quoted_identifiers_route(spark, tmp_path):
    """sql_tableau parity: ANSI double-quoted identifiers (what Tableau
    emits) convert to backticks before parsing, and the query still takes
    its cuboid route; double quotes inside string literals survive."""
    from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
    from kylin_on_parquet_v2_spark.query.engine import OlapEngine
    from kylin_on_parquet_v2_spark.query.transformers import (
        quote_identifiers_to_backticks,
    )
    from tests.conftest import SF_SMOKE

    assert (
        quote_identifiers_to_backticks('select "a" from "t" where x = \'say ""hi""\'')
        == "select `a` from `t` where x = 'say \"\"hi\"\"'"
    )
    eng = OlapEngine(spark, storage_dir=str(tmp_path))
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.build_cube(TPCH_CUBE)
    df = eng.sql(
        'select "lineitem"."l_returnflag" as "rf", sum("lineitem"."l_quantity") as "s" '
        'from "lineitem" group by "lineitem"."l_returnflag"'
    )
    assert eng.last_route is not None
    flat = {
        (r["rf"], r["s"])
        for r in eng.pushdown(
            "select l_returnflag as rf, sum(l_quantity) as s from lineitem group by l_returnflag"
        ).collect()
    }
    assert {(r["rf"], r["s"]) for r in df.collect()} == flat

