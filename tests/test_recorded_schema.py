"""Cube layouts, lookup snapshots and global dictionaries are read with the
Spark schema recorded in ``cube_meta.json`` (reference: the layout schema is
built from cube metadata, ``FilePruner.scala:106-113``), never with a
schema-inference Spark job per read.

Every test rides byte-copies of the session-built template stores."""

from __future__ import annotations

import json
import os
from dataclasses import replace
from decimal import Decimal

import pytest
from pyspark.sql.types import DateType, DecimalType, IntegerType

from kylin_on_parquet_v2_spark.cube.build import (
    SEGMENT_COL,
    SHARD_COL,
    CubeBuilder,
    CubeInstance,
)
from kylin_on_parquet_v2_spark.datasets import (
    TPCH_CUBE,
    TPCH_CUBE_SEG,
    TPCH_MODEL,
    TPCH_MODEL_SEG,
)
from kylin_on_parquet_v2_spark.metadata.cube import FunctionDesc, MeasureDesc
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE, clone_cube_store

#: one routed text per scan shape -> the cube it must route to
ROUTED = {
    "flat": (
        """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
           from lineitem group by l_returnflag, l_linestatus""",
        "tpch_cube",
    ),
    "date_segmented": (
        """select l_returnflag, sum(l_quantity) as s from lineitem
           where l_shipdate >= date '1995-01-01' and l_shipdate < date '1995-04-01'
           group by l_returnflag""",
        "tpch_cube_seg",
    ),
    "shard_pruned": (
        """select p_brand, sum(l_quantity) as s from lineitem
           join part on l_partkey = p_partkey
           where p_brand = 'Brand#13' group by p_brand""",
        "tpch_cube",
    ),
    "derived_snapshot": (
        """select n_name, sum(l_quantity) as s from lineitem
           join orders on l_orderkey = o_orderkey
           join customer on o_custkey = c_custkey
           join nation on c_nationkey = n_nationkey
           where l_shipdate >= date '1996-01-01'
           group by n_name""",
        "tpch_cube_seg",
    ),
}

SCHEMA_KEYS = ("layout_schemas", "snapshot_schemas", "dict_schemas")


@pytest.fixture(scope="module")
def storage(spark, tpch_cube_store, seg_cube_store, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("schema_cubes"))
    clone_cube_store(tpch_cube_store, d)
    clone_cube_store(seg_cube_store, d)
    return d


def _engine(spark, storage_dir: str) -> OlapEngine:
    eng = OlapEngine(spark, storage_dir=storage_dir)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.add_model(TPCH_MODEL_SEG)
    return eng


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _listing_jobs(spark, eng) -> int:
    """Spark lists a layout root holding more partition dirs than its
    parallel partition-discovery threshold in a Spark job (the monthly
    template cube has ~80 segment dirs). That job is partition discovery,
    not schema inference: a recorded schema does not remove it."""
    threshold = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    route = eng.last_route
    root = eng.cubes[route.cube].layouts[route.cuboid.cuboid_id]
    dirs = [d for d in os.listdir(root) if "=" in d]
    return int(len(dirs) > threshold)


def _assert_recorded_matches_disk(spark, inst: CubeInstance) -> None:
    """Every recorded schema equals what inference reads from the files,
    in memory and in the persisted meta."""
    assert set(inst.layout_schemas) == set(inst.layouts)
    for cid, path in inst.layouts.items():
        assert inst.layout_schemas[cid] == spark.read.parquet(path).schema, cid
    assert set(inst.snapshot_schemas) == set(inst.snapshots)
    for table, path in inst.snapshots.items():
        assert inst.snapshot_schemas[table] == spark.read.parquet(path).schema, table
    for param, schema in inst.dict_schemas.items():
        assert schema == spark.read.parquet(inst.dict_path(param)).schema, param
    again = CubeInstance.load(inst.desc, inst.model, inst.storage_dir, spark)
    for key in SCHEMA_KEYS:
        assert getattr(again, key) == getattr(inst, key), key


@pytest.mark.parametrize("shape", list(ROUTED))
def test_routed_sql_plans_without_spark_jobs(spark, storage, shape):
    """``engine.sql`` without an action launches no Spark job besides
    Spark's own partition-dir listing on a cold plan, and none at all on
    its route-memo replay (a new Dataset over the frozen analyzed plan,
    whose listing was taken when it was built): the layout and snapshot
    reads take the recorded schema, and the shard probe folds to a
    constant."""
    sql, cube = ROUTED[shape]
    eng = _engine(spark, storage)
    eng.load_cube(TPCH_CUBE)
    eng.load_cube(TPCH_CUBE_SEG)
    for attempt in ("cold", "memo"):
        j0 = _jobs(spark)
        eng.sql(sql)
        jobs = _jobs(spark) - j0
        assert eng.last_route is not None and eng.last_route.cube == cube
        expected = _listing_jobs(spark, eng) if attempt == "cold" else 0
        assert jobs == expected, (shape, attempt)
    if cube == "tpch_cube":
        assert _listing_jobs(spark, eng) == 0
    assert eng.metrics["route_memo_hits"] == 1
    if shape == "shard_pruned":
        assert eng.last_route.shard_eq == ("p_brand", "'Brand#13'")
    if shape == "derived_snapshot":
        assert [lk.table for lk in eng.last_route.derived] == ["nation"]
    eng.sql(sql, validate=True)  # the routed answer equals pushdown's


def test_build_records_read_back_schemas(spark, storage):
    """Build: layouts keep their partition column types (segment date,
    shard int), and snapshots and dictionaries are recorded too."""
    eng = _engine(spark, storage)
    flat = eng.load_cube(TPCH_CUBE)
    seg = eng.load_cube(TPCH_CUBE_SEG)
    sharded = [s for s in flat.layout_schemas.values() if SHARD_COL in s.fieldNames()]
    assert sharded and all(s[SHARD_COL].dataType == IntegerType() for s in sharded)
    assert all(
        s[SEGMENT_COL].dataType == DateType() for s in seg.layout_schemas.values()
    )
    assert set(flat.dict_schemas) == {"l_partkey"}
    assert set(seg.snapshot_schemas) == set(seg.snapshots) != set()
    for inst in (flat, seg):
        _assert_recorded_matches_disk(spark, inst)


def test_maintenance_keeps_recorded_schemas_exact(spark, seg_cube_store, tmp_path):
    """Retention, refresh (build_increment), rebuild_segment and merge each
    leave recorded schemas equal to what the files read back with."""
    from kylin_on_parquet_v2_spark.cube.merge import apply_retention, merge_segments

    d = clone_cube_store(seg_cube_store, str(tmp_path / "clone"))
    eng = _engine(spark, d)
    inst = eng.load_cube(TPCH_CUBE_SEG)
    segs = inst.committed_segments(spark) or inst.segments(spark)
    assert len(segs) >= 6, segs

    dropped = apply_retention(spark, inst, keep=len(segs) - 2)
    assert dropped == segs[:2]
    _assert_recorded_matches_disk(spark, inst)

    assert eng.refresh_cube(TPCH_CUBE_SEG.name) == dropped
    _assert_recorded_matches_disk(spark, inst)

    eng.refresh_segment(TPCH_CUBE_SEG.name, segs[2])
    _assert_recorded_matches_disk(spark, inst)

    merge_segments(spark, inst, segs[3:5], segs[3])
    _assert_recorded_matches_disk(spark, inst)
    eng._route_memo.clear()
    sql, _cube = ROUTED["date_segmented"]
    eng.sql(sql, validate=True)


def test_meta_without_schemas_is_backfilled_on_load(spark, storage, tmp_path):
    """A cube_meta.json written before schemas were recorded: ``load``
    infers each path once and saves the meta; the reloaded cube serves the
    reload tests' queries, with plans that infer no schema."""
    d = str(tmp_path / "old_meta")
    clone_cube_store(storage, d)
    for name in (TPCH_CUBE.name, TPCH_CUBE_SEG.name):
        p = os.path.join(d, name, "cube_meta.json")
        with open(p) as fh:
            meta = json.load(fh)
        assert meta["layout_schemas"]
        for key in SCHEMA_KEYS:
            del meta[key]
        with open(p, "w") as fh:
            json.dump(meta, fh)

    eng = _engine(spark, d)
    flat = eng.load_cube(TPCH_CUBE)
    seg = eng.load_cube(TPCH_CUBE_SEG)
    for inst in (flat, seg):
        with open(inst.meta_path()) as fh:
            meta = json.load(fh)
        assert meta["layout_schemas"] and meta["snapshot_schemas"]
        _assert_recorded_matches_disk(spark, inst)
    assert flat.dict_schemas

    # the queries of test_cube_reload's test_reload_* cases
    eng.sql(
        """select l_returnflag, l_linestatus, sum(l_quantity) as s, count(*) as n
           from lineitem group by l_returnflag, l_linestatus""",
        validate=True,
    )
    assert eng.last_route is not None and eng.last_route.exact
    sql = """select n_name, sum(l_quantity) as s from lineitem
             join orders on l_orderkey = o_orderkey
             join customer on o_custkey = c_custkey
             join nation on c_nationkey = n_nationkey
             where l_shipdate >= date '1996-01-01'
             group by n_name"""
    eng.sql(sql, validate=True)
    assert eng.last_route is not None and eng.last_route.derived
    j0 = _jobs(spark)
    eng.sql(sql)
    # a route-memo replay: the frozen plan's listing was taken when it was
    # built, so the replay launches no job at all
    assert eng.metrics["route_memo_hits"] == 1
    assert _jobs(spark) - j0 == 0


def test_clone_rename_rewrites_only_paths_and_name(spark, seg_cube_store, tmp_path):
    """The test helper re-roots path fields and renames the cube; recorded
    schemas come through byte-identical."""
    d = clone_cube_store(
        seg_cube_store, str(tmp_path / "c"), rename=("tpch_cube_seg", "tpch_seg_x")
    )
    with open(os.path.join(seg_cube_store, "tpch_cube_seg", "cube_meta.json")) as fh:
        src = json.load(fh)
    with open(os.path.join(d, "tpch_seg_x", "cube_meta.json")) as fh:
        dst = json.load(fh)
    assert dst["cube"] == "tpch_seg_x"
    for key in SCHEMA_KEYS:
        assert dst[key] == src[key]
    for key in ("layouts", "snapshots"):
        assert set(dst[key]) == set(src[key])
        assert all(v.startswith(os.path.join(d, "tpch_seg_x") + os.sep)
                   for v in dst[key].values())
        assert all(os.path.exists(v) for v in dst[key].values())


def test_reagg_memo_keys_on_column_types(spark, tmp_path):
    """Two parents with the same column names but different measure types
    must not share re-agg Columns: SUM re-casts to each parent's stored
    decimal type."""
    desc = replace(
        TPCH_CUBE,
        name="reagg_types",
        dimensions=("l_returnflag", "l_linestatus"),
        measures=(MeasureDesc("sum_qty", FunctionDesc("SUM", "l_quantity")),),
        aggregation_groups=(),
        shard_by=None,
        cuboid_ids=None,
    )
    builder = CubeBuilder(spark, TPCH_MODEL, desc, str(tmp_path))
    child = next(
        c for c in builder.scheduler.cuboids.values() if c.dims == ("l_returnflag",)
    )
    rows = [("A", "F", Decimal("1.5")), ("A", "O", Decimal("2.25"))]
    for p, s in ((10, 2), (20, 4)):
        parent = spark.createDataFrame(
            rows, f"l_returnflag string, l_linestatus string, sum_qty decimal({p},{s})"
        )
        out = builder._agg_from_parent(parent, child, False)
        assert out.schema["sum_qty"].dataType == DecimalType(p, s)
