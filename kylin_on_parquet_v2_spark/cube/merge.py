"""Segment merge job.

Reference parity: ``kylin-spark-engine/.../job/CubeMergeJob.java`` +
``DFLayoutMergeAssist.java`` — union the layouts of adjacent segments and
re-aggregate them into one merged segment (Kylin's auto-merge keeps the
segment count bounded as real-time/daily builds accumulate).

Scale notes: merging re-aggregates layout rows (already tiny vs source
data) — one groupBy per cuboid; writes replace N small segment dirs with
one, which is also the small-files compaction path at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark import fs as FS
from kylin_on_parquet_v2_spark.cube import measures as M
from kylin_on_parquet_v2_spark.cube.build import (
    SEGMENT_COL,
    CubeInstance,
    bloom_write_options,
    record_dim_ranges,
    with_shard_partition,
)


#: target parquet file size for merged segments (Spark's default
#: maxPartitionBytes — one scan task per merged file downstream)
TARGET_FILE_BYTES = 128 * 1024 * 1024


def _segment_bytes(spark: SparkSession, path: str, segments: list[str]) -> int:
    """On-disk bytes of the segment dirs being merged (upper bound on the
    merged output — re-aggregation only shrinks it)."""
    return sum(
        FS.dir_bytes(os.path.join(path, f"{SEGMENT_COL}={seg}"), spark)
        for seg in segments
    )


def merge_segments(
    spark: SparkSession,
    inst: CubeInstance,
    segments: list[str],
    new_segment: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> None:
    """Merge ``segments`` of every cuboid layout into ``new_segment``.

    The merged rows are the re-aggregation of the input segments' rows
    (COUNT->SUM, sketch-union, min/min, max/max — same rules as building a
    child layout from its parent).

    The merged segment is written with a size-based repartition (input
    bytes / target_file_bytes), NOT coalesce(1): a merged segment of a big
    cube at scale must not funnel through one task into one >2 GB file —
    merging is the small-files *compaction* path, and ~128 MB files keep
    one scan task per file downstream.
    """
    if not inst.segmented:
        raise ValueError("cube is not segmented; nothing to merge")
    if not segments:
        raise ValueError("no segments given")
    if inst.layout_tables:
        # merge rewrites segment dirs with plain parquet files, outside the
        # bucket bookkeeping — the catalog's bucket spec would lie about
        # file layout (silently wrong shuffle elision). Un-register the
        # bucketed tables first: readers fall back to the path scan (same
        # bytes, correct answers, just no Exchange elision anymore).
        for t in inst.layout_tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        inst.layout_tables.clear()

    # visibility-first commit: the merged dir value becomes READY before any
    # layout swaps, so a layout that has swapped serves its merged dir while
    # un-swapped layouts keep serving the absorbed dirs — every layout stays
    # self-consistent through a crash (a query routes to exactly one layout)
    inst.commit_segments(spark, [new_segment])

    for cuboid_id, path in inst.layouts.items():
        cuboid = inst.scheduler.cuboids[cuboid_id]
        fs = FS.fs_for(path, spark)
        final_dir = os.path.join(path, f"{SEGMENT_COL}={new_segment}")
        staging = os.path.join(path, f"_staging_{SEGMENT_COL}={new_segment}")
        sentinel = staging + ".swapping"
        others = [s for s in segments if s != new_segment]
        if fs.exists(sentinel):
            # a crashed attempt finished STAGING this layout's merge and died
            # mid-swap: the staged bytes are authoritative — finish the swap
            # instead of recomputing from half-deleted input dirs
            if fs.exists(staging):
                for seg in segments:
                    seg_dir = os.path.join(path, f"{SEGMENT_COL}={seg}")
                    if fs.exists(seg_dir):
                        fs.rmtree(seg_dir)
                if fs.exists(final_dir):
                    fs.rmtree(final_dir)
                fs.rename(staging, final_dir)
                inst.lifecycle_epoch += 1  # scans listed before the swap expire
            fs.remove(sentinel)
            continue
        if (
            others
            and fs.exists(final_dir)
            and not any(
                fs.exists(os.path.join(path, f"{SEGMENT_COL}={s}")) for s in others
            )
        ):
            # rerun after a crash: this layout already completed its swap —
            # recomputing from the (now absent) absorbed dirs would overwrite
            # the merged segment with an empty one
            continue
        # the merge re-aggregates with the same rules as a child layout
        # build, so the merged segment keeps this read-back schema
        on_disk = spark.read.parquet(path)
        inst.layout_schemas[cuboid_id] = on_disk.schema
        df = on_disk.filter(F.col(SEGMENT_COL).isin(segments))
        aggs = []
        for m in inst.desc.measures:
            if m.name not in df.columns:
                continue
            if m.function.expression == "TOP_N":
                # build contract: segmented stored lists live only on layouts
                # carrying the partition column, so a merged group (dims incl.
                # that column) has exactly ONE source row — first() is exact,
                # never a cross-segment list merge
                aggs.append(F.first(m.name).alias(m.name))
                continue
            c = M.reagg_from_layout(m, df.schema)
            if c is not None:
                aggs.append(c)
        keys = list(cuboid.dims)
        merged = df.groupBy(*keys).agg(*aggs) if aggs else df.select(*keys).dropDuplicates()
        n_files = max(1, _segment_bytes(spark, path, segments) // max(1, target_file_bytes))
        # Match the partition-directory depth the original layout write
        # used — every segment dir under one layout root must agree or the
        # fallback spark.read.parquet(root) fails with conflicting partition
        # structure. Bucketed layouts (bucketBy saveAsTable) have files
        # DIRECTLY under their SEGMENT_COL= dirs, so the merged segment is
        # written the same way (round-6 advisor finding #1); bucket METADATA
        # is already gone (tables dropped above), so readers take the plain
        # path scan everywhere. Dir-partitioned layouts keep their
        # __shard__= dirs for shard co-location/pruning.
        if inst.desc.bucket_layouts:
            parts = []
        else:
            merged, parts = with_shard_partition(merged, inst.desc)
        # stage the merged segment, then atomically swap the old dirs out
        if parts:
            # Repartitioning by the shard column alone caps non-empty
            # partitions at shard_buckets regardless of n_files — with skew
            # or n_files > buckets, a merged file could blow past the size
            # target (the >2 GB single-file risk). A salt over the dims
            # spreads each shard across ceil(n_files / buckets) partitions
            # while partitionBy still routes rows to the right shard dir.
            k = max(1, -(-n_files // max(1, inst.desc.shard_buckets)))
            salt = F.pmod(F.hash(*[F.col(c) for c in keys]), F.lit(k)) if keys else F.lit(0)
            writer = merged.repartition(n_files, *[F.col(c) for c in parts], salt)
            if keys:
                # keep the merged files rowkey-ordered like the original
                # layout write (task-local sort, no extra shuffle) so the
                # row-group min/max skipping survives the merge
                writer = writer.sortWithinPartitions(*keys)
            # blooms survive the merge (same declaration as the original
            # layout write — losing them here would silently drop the
            # point-lookup skipping after every compaction cycle)
            writer.write.mode("overwrite").options(
                **bloom_write_options(inst.desc, merged.columns)
            ).partitionBy(*parts).parquet(staging)
        else:
            writer = merged.repartition(n_files)
            if keys:
                writer = writer.sortWithinPartitions(*keys)
            writer.write.mode("overwrite").options(
                **bloom_write_options(inst.desc, merged.columns)
            ).parquet(staging)
        # swap sentinel: from here until the rename lands, the staged bytes
        # are the layout's truth — a rerun finishes the swap (above) rather
        # than recomputing from partially deleted inputs
        fs.write_text(sentinel, "")
        for seg in segments:
            seg_dir = os.path.join(path, f"{SEGMENT_COL}={seg}")
            if fs.exists(seg_dir):
                fs.rmtree(seg_dir)
        if fs.exists(final_dir):
            fs.rmtree(final_dir)
        fs.rename(staging, final_dir)
        # scans and frozen plans listed before this layout's swap name
        # removed files: expire them now, not after the last layout
        inst.lifecycle_epoch += 1
        fs.remove(sentinel)

    # Range bookkeeping (reference: per-segment TSRange): the merged dir's
    # coverage END is the max absorbed segment (or a previously-merged
    # range's end) — segment-filter folding needs it to keep lower-bound
    # pruning sound over merged dirs.
    end = max(inst.segment_ranges.get(s, s) for s in segments)
    for s in segments:
        inst.segment_ranges.pop(s, None)
    if end != new_segment:
        inst.segment_ranges[new_segment] = end
    # every layout has swapped: the absorbed dir values retire from the
    # READY ledger (their rows now live under the merged dir)
    inst.uncommit_segments(spark, [s for s in segments if s != new_segment])
    # the merged dir's dimension ranges are the union of what it absorbed —
    # recomputed from the base layout like every other lifecycle commit
    record_dim_ranges(inst, spark)
    inst.save_meta()


def maybe_auto_merge(
    spark: SparkSession, inst: CubeInstance, threshold: int | None = None
) -> str | None:
    """Threshold-triggered auto-merge (reference ``CubeDesc.java:180``
    autoMergeTimeRanges + ``CubeManager`` merge scheduling, count-based
    here): when the cube has accumulated ``threshold`` segments (default
    from ``desc.auto_merge_segments``), merge all but the NEWEST into one —
    the newest segment keeps receiving appends (streaming ingest), so it is
    left out of the merge the same way the reference never merges the
    building segment.

    Returns the merged segment value, or None when below threshold /
    disabled. Idempotent: after a merge the count drops to 2, so repeated
    ingest+check cycles keep the segment count bounded by ``threshold``.
    """
    if threshold is None:
        threshold = inst.desc.auto_merge_segments
    if not threshold or not inst.segmented:
        return None
    committed = inst.committed_segments(spark)
    segs = committed if committed is not None else inst.segments(spark)
    if len(segs) < threshold or len(segs) < 3:
        return None
    to_merge = segs[:-1]
    new_segment = to_merge[0]
    merge_segments(spark, inst, to_merge, new_segment)
    return new_segment


def apply_retention(
    spark: SparkSession, inst: CubeInstance, keep: int | None = None
) -> list[str]:
    """Drop segment dirs older than the newest ``keep`` (reference
    CubeDesc retentionRange + CubeManager's retired-segment cleanup when a
    new segment comes READY; count-based here, matching the count-based
    auto-merge). Returns the dropped segment values.

    Storage-level semantics: a dropped segment's rows simply stop existing
    for every cuboid, so full-range queries answer over the retained range
    only — identical to the reference, where retired segments leave the
    queryable set atomically. Dropping whole partition dirs is a metadata
    operation per layout (no data rewrite)."""
    if keep is None:
        keep = inst.desc.retention_segments
    if not keep or not inst.segmented:
        return []
    committed = inst.committed_segments(spark)
    segs = committed if committed is not None else inst.segments(spark)
    drop = segs[:-keep] if len(segs) > keep else []
    if not drop:
        return []
    for path in inst.layouts.values():
        fs = FS.fs_for(path, spark)
        for seg in drop:
            seg_dir = os.path.join(path, f"{SEGMENT_COL}={seg}")
            if fs.exists(seg_dir):
                fs.rmtree(seg_dir)
        inst.lifecycle_epoch += 1  # scans listing the removed dirs expire
    for seg in drop:
        inst.segment_ranges.pop(seg, None)
        inst.dim_ranges.pop(seg, None)
    inst.uncommit_segments(spark, drop)
    inst.save_meta()
    return drop
