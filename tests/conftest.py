from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from kylin_on_parquet_v2_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def tpch_cube_store(spark, tmp_path_factory):
    """TPCH_CUBE built ONCE per test session (r14: nine modules each paid a
    full 49-layout build of the identical cube at SF_SMOKE — ~20-30 s per
    module of pure fixture duplication). READ-ONLY by contract: modules
    whose tests mutate layouts, segments or dictionaries must build their
    own copy (tmp_path) or clone via :func:`clone_cube_store`. Returns the
    storage dir; consumers attach with ``OlapEngine(...).load_cube(desc)``.
    """
    from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
    from kylin_on_parquet_v2_spark.query.engine import OlapEngine

    d = str(tmp_path_factory.mktemp("shared_tpch_cube"))
    eng = OlapEngine(spark, storage_dir=d)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.build_cube(TPCH_CUBE)
    return d


@pytest.fixture(scope="session")
def seg_cube_store(spark, tmp_path_factory):
    """TPCH_CUBE_SEG (segmented) built once per session — the template for
    mutation tests, which must operate on a :func:`clone_cube_store` copy,
    never on this directory."""
    from kylin_on_parquet_v2_spark.cube.build import CubeBuilder
    from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE_SEG, TPCH_MODEL_SEG
    from kylin_on_parquet_v2_spark.session import register_views

    register_views(spark, SF_SMOKE)
    d = str(tmp_path_factory.mktemp("shared_seg_cube"))
    CubeBuilder(spark, TPCH_MODEL_SEG, TPCH_CUBE_SEG, d).build()
    return d


def clone_cube_store(
    template_dir: str, dst_dir: str, rename: tuple[str, str] | None = None
) -> str:
    """Byte-copy a built cube store so a mutation test gets a private,
    identical instance without paying the build. The persisted meta holds
    ABSOLUTE layout/snapshot paths — every cube_meta.json is parsed and its
    path fields re-rooted under ``dst_dir``, so the clone serves its own
    files; no other field is touched (recorded schemas name columns, and a
    column may contain the cube name). ``rename=(old, new)`` additionally
    renames the cube (dir, path fields and the meta's ``cube`` name) so a
    test can attach a `dataclasses.replace(..., name=...)` variant of the
    template's desc."""
    import json
    import os
    import shutil

    shutil.copytree(template_dir, dst_dir, dirs_exist_ok=True)
    if rename is not None:
        old, new = rename
        os.rename(os.path.join(dst_dir, old), os.path.join(dst_dir, new))

    def moved(path: str) -> str:
        if not path.startswith(template_dir + os.sep):
            return path  # another template's clone in the same dst_dir
        rel = os.path.relpath(path, template_dir)
        if rename is not None and rel.split(os.sep)[0] == rename[0]:
            rel = os.path.join(rename[1], *rel.split(os.sep)[1:])
        return os.path.join(dst_dir, rel)

    for root, _dirs, files in os.walk(dst_dir):
        for f in files:
            if f == "cube_meta.json":
                p = os.path.join(root, f)
                with open(p) as fh:
                    meta = json.load(fh)
                for key in ("layouts", "snapshots"):
                    meta[key] = {k: moved(v) for k, v in meta.get(key, {}).items()}
                if rename is not None and meta.get("cube") == rename[0]:
                    meta["cube"] = rename[1]
                with open(p, "w") as fh:
                    json.dump(meta, fh, indent=2)
    return dst_dir


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's source views registered (sf0.001)."""
    import duckdb

    from kylin_on_parquet_v2_spark.session import SOURCE_TABLES

    con = duckdb.connect()
    for t in SOURCE_TABLES:
        path = f"{SF_SMOKE}/{t}.parquet"
        con.execute(f"create view {t} as select * from '{path}'")
    yield con
    con.close()
