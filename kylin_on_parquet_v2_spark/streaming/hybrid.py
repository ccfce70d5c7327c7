"""Hybrid realization: batch cube + realtime streaming tail served as ONE
logical table THROUGH THE ROUTER.

Reference parity: ``storage/hybrid/HybridInstance`` — a realization facade
over a historical cube and a streaming part for the same model; the scan
splits at the batch coverage boundary (used at
``kylin-spark-query/.../plans/TableScanPlan.scala:58-62``). Round 4 had the
split only as a library function (:func:`..segments.hybrid_union`); this
module makes it a serving path ``engine.sql`` picks automatically, so a
time-spanning aggregate on a streaming model is answered as

    re-merge( batch-cuboid partials  UNION  realtime-tail partials )

with the realtime scan PRUNED to post-boundary segment dirs (a partition
filter — whole dirs skipped before file listing, exactly like segment
pruning on the batch side).

Contract (same as hybrid_union): the batch store absorbs WHOLE segments, so
coverage is segment-aligned; realtime segment values must extend the batch
segment value format (e.g. batch ``yyyy-MM-dd`` day dirs, realtime
``yyyy-MM-dd`` or ``yyyy-MM-dd-HH`` dirs) so a string-prefix comparison
orders them consistently. Double counting is impossible by construction:
the tail filter is strict (``> boundary``).

Merge soundness: decomposable measures are served (SUM merges by SUM, a
double SUM exactly with one rounding (``router.merge_column``); COUNT by
SUM, MIN/MAX by themselves; AVG by SUM/COUNT decomposition), and — round
6 — so are the cube's MERGEABLE-DISTINCT measures: COUNT_DISTINCT
backed by a dictionary-id word-bag bitmap, its conditional form, and
INTERSECT_COUNT. The realtime tail is dictionary-encoded through an
in-memory EXTENSION of the cube's frozen global dictionary
(``extend_global_dict`` — existing ids never move, new values append), its
word bags are built at the query grain, and batch + tail bags merge by
``bit_or``, which is associative, commutative and IDEMPOTENT — so the
segment-aligned split can never double-count a value that appears on both
sides. This is the Spark-first realization of the reference's realtime
cubes, which dictionary-encode at ingest and serve distinct across the
split (``stream-core/.../RecordsAggregator.java``,
``NGlobalDictionaryV2.java``).

hllc approx-distinct serves across the split too (engine approx_distinct
opt-in): HLL register-max union is idempotent like bit_or, so stored batch
sketches union with sketches built over the tail. Derived dimensions
recover on the tail via the same broadcast snapshot join the batch scan
uses (the store carries the host FKs).

Percentile serves across the split too: the stored sketch state (fixed-bin
histogram / KLL weighted sample) is additive, and the split is disjoint, so
batch + tail sketches merge exactly — one merged sketch per column, however
many quantiles the query reads from it.

:func:`execute_hybrid` has ONE aggregation tail: batch and tail merge once
at the finest grain, and every grouping set — a plain GROUP BY is the
one-set case — is derived from that merged state (ROLLUP/CUBE/GROUPING SETS
re-merge it per set; idempotent or additive merges keep each set exact).

Stored TopN serves through the merge as well: batch lists explode into
per-key partial sums, the tail adds exact per-key sums, and the ORDER
BY/LIMIT tail re-ranks — a pinned day on either side of the boundary stays
exact, spanning shapes need the engine's approx_topn opt-in.

Distinct on plain DIMENSIONS serves too: the batch layout's distinct dim
tuples union the tail's rows (set union — idempotent by definition), then
one count_distinct per group. With that the hybrid realization serves
EVERY shape the batch route serves.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark import fs as FS
from kylin_on_parquet_v2_spark.cube import dictionary as GD
from kylin_on_parquet_v2_spark.cube.build import SEGMENT_COL, CubeInstance
from kylin_on_parquet_v2_spark.query.digest import SqlDigest
from kylin_on_parquet_v2_spark.query.router import (
    MERGE,
    Route,
    apply_derived_joins,
    apply_post_aggregation,
    avg_type,
    divide_avg,
    execute_route,
    join_counts,
    merge_column,
    percentile_sketch,
    routed_layout_scan,
    set_projection,
)
from kylin_on_parquet_v2_spark.streaming.segments import _normalize_ts


@dataclass
class HybridPart:
    """The realtime half of a hybrid realization (engine-registered)."""

    realtime_dir: str
    ts_col: str = "ts"
    #: cached realtime store column set (schema read once per registration)
    _columns: frozenset | None = None

    def columns(self, spark: SparkSession) -> frozenset:
        if self._columns is None:
            self._columns = frozenset(
                spark.read.parquet(self.realtime_dir).columns
            )
        return self._columns


def _dim_distinct_cols(a, route: Route) -> list | None:
    """Columns of a COUNT DISTINCT served from cuboid DIMENSIONS (single-
    or multi-column; the reference's DimCountDistinct), or None when any
    column is not a dim of the planned cuboid. Conditional distinct
    (cond_sql) is excluded — that shape routes through the bag maps."""
    if a.cond_sql is not None or a.func != "COUNT":
        return None
    cols = list(a.columns) if a.columns else ([a.column] if a.column else [])
    if cols and all(c in route.cuboid.dims for c in cols):
        return cols
    return None


def _bag_served(name: str, route: Route) -> bool:
    """True when the routed output ``name`` is served from a stored
    mergeable-distinct state: a dictionary-id word-bag bitmap, or (under
    the engine's approx_distinct opt-in) an hllc sketch — HLL register-max
    union is idempotent exactly like bit_or, so both survive the split."""
    return (
        name in route.bitmap_distinct
        or name in route.bitmap_cond
        or name in route.bitmap_intersect
        or name in route.bitmap_intersect_value
        or name in route.approx_distinct
    )


def hybrid_servable(digest: SqlDigest, route: Route) -> bool:
    """True when every output merges exactly across the batch/realtime split.

    AVG qualifies via decomposition (SUM and COUNT partials merge, the
    division happens once above the merge). DISTINCT qualifies exactly when
    the route serves it from a word-bag bitmap measure: bags from the batch
    layouts and bags built over the dictionary-encoded tail merge by
    ``bit_or`` (associative + commutative + idempotent => the split cannot
    double-count), or — under the engine's approx_distinct opt-in — from an
    hllc sketch (register-max union, idempotent too; the accuracy trade was
    already opted into), or — when the distinct column(s) are CUBOID
    DIMENSIONS — from the set union of the layout's dim tuples with the
    tail's rows (set union is idempotent by definition: DimCountDistinct
    across the split)."""
    # stored-TopN routes serve through the merge too: batch lists explode
    # into (key, partial-sum) rows that union with the tail's exact per-key
    # sums — a pre-boundary pinned day keeps its exactness (the tail prunes
    # to nothing), a post-boundary day is served exactly from the tail
    # alone, and range/history shapes are only reachable under the
    # engine's approx_topn opt-in (plan_route refuses them otherwise)
    # (derived dimensions are fine: the tail carries the same host FKs, so
    # the identical snapshot recovery join applies before its partials)
    for item in digest.select:
        if item.agg is None:
            continue
        a = item.agg
        if route.topn is not None and item.name == route.topn[0]:
            continue  # the TopN sum output, served by the list merge
        if _bag_served(item.name, route):
            continue
        if a.distinct and _dim_distinct_cols(a, route) is not None:
            continue  # dims survive in the layout: set-union distinct
        if a.func == "PERCENTILE":
            # mergeable sketch state guaranteed by plan_route (hist or KLL
            # measure exists, else no route): bin-wise sums / weighted
            # samples are ADDITIVE, and the boundary split is disjoint, so
            # batch + tail sketches merge exactly
            continue
        if a.distinct or (a.func not in MERGE and a.func != "AVG"):
            return False
    # (hidden HAVING aggregates need no special case: they are SelectItems
    # in digest.select, so they flow through the partial pipelines like any
    # visible output and apply_post_aggregation drops them after HAVING)
    # every group col must survive into the output — merging on a subset of
    # the grouping keys would collapse groups the query keeps separate
    out_group = {s.group_col for s in digest.select if s.group_col is not None}
    return set(digest.group_cols) == out_group


def hybrid_columns_ok(
    digest: SqlDigest,
    inst: CubeInstance,
    part: HybridPart,
    spark: SparkSession,
    route: Route,
) -> bool:
    """The realtime store must carry every column the tail aggregation
    reads (group bases, filter columns, agg inputs — including the raw
    columns behind an expression measure, identified through the model's
    column registry). Derived-dimension columns are recovered by the
    snapshot join, so the store owes their host FOREIGN KEYS instead. A
    missing column means the store predates a schema change: refuse the
    route so pushdown answers completely."""
    import re as _re

    cols = part.columns(spark)
    if SEGMENT_COL not in cols:
        # no segment column => no sound split boundary: a blind union would
        # double-count every batch-covered row. register_hybrid refuses such
        # stores up front; this guards stores mutated after registration.
        return False
    need = set(digest.needed_cols())
    for lk in route.derived:
        need = {c for c in need if inst.column_tables.get(c) != lk.name}
        need |= set(lk.join.foreign_key)
    model_cols = set(inst.column_tables)
    for a in digest.aggs:
        if a.column is not None:
            need.add(a.column)
        if a.filter_col is not None:  # INTERSECT_COUNT cohort column
            need.add(a.filter_col)
        need |= set(a.cond_cols)  # conditional-distinct cohort condition
        if a.expr_sql is not None:
            need |= {
                t
                for t in _re.findall(r"[A-Za-z_]\w*", a.expr_sql)
                if t in model_cols
            }
    return need <= cols


def batch_boundary(inst: CubeInstance, spark: SparkSession) -> str | None:
    """The batch store's coverage END: max segment dir value, or a merged
    range's end when that reaches further. Pure metadata (directory listing
    + persisted ranges) — no Spark job per query (the round-4 nit against
    hybrid_union's per-call max() job)."""
    committed = inst.committed_segments(spark)
    segs = committed if committed is not None else inst.segments(spark)
    # COMMITTED coverage, not dirs on disk: a crashed append's partial dir
    # must not extend the boundary — layout_df hides it from the batch side,
    # so the tail (strictly > boundary) serves that segment exactly once
    # from the realtime store until the append commits
    ends = list(segs) + list(inst.segment_ranges.values())
    return max(ends) if ends else None


def _tail_files(store_dir: str, spark) -> list[str]:
    """Sorted store-relative data-file paths under the realtime store —
    a driver-side listing, no Spark job. The append-only file identity is
    the dictionary-coverage unit: a file present at fold time holds the
    same rows forever (micro-batches only ADD files; compaction REPLACES
    names), so `current files ⊆ covered files` proves every tail value is
    already in the persisted dictionary."""
    fs = FS.fs_for(store_dir, spark)
    out: list[str] = []

    def walk(rel: str) -> None:
        full = os.path.join(store_dir, rel) if rel else store_dir
        for name in fs.listdir(full):
            if name.startswith("."):
                continue
            sub = os.path.join(rel, name) if rel else name
            if fs.isdir(os.path.join(store_dir, sub)):
                # partition dirs are "_"-prefixed (__segment__=...) and must
                # be walked; other "_"-dirs are staging/temp — skip them
                if name.startswith("_") and "=" not in name:
                    continue
                walk(sub)
            elif name.startswith("_"):
                continue  # _SUCCESS and friends
            elif name.endswith(".parquet"):
                out.append(sub)

    if fs.exists(store_dir):
        walk("")
    return sorted(out)


def _cover_path(inst: CubeInstance) -> str:
    return os.path.join(
        inst.storage_dir, inst.desc.name, "dict", "__tail_cover__.json"
    )


def _tail_covered(inst: CubeInstance, part: HybridPart, spark) -> bool:
    """True when every current realtime data file was already folded into
    the persisted dictionaries by :func:`fold_tail_dictionary`."""
    path = _cover_path(inst)
    if not FS.fs_for(path, spark).exists(path):
        return False
    covered = set(FS.read_json(path, spark).get("files", []))
    return set(_tail_files(part.realtime_dir, spark)) <= covered


def fold_tail_dictionary(
    inst: CubeInstance, part: HybridPart, spark: SparkSession
) -> dict[str, int]:
    """MAINTENANCE: fold the realtime store's distinct values into the
    cube's PERSISTED global dictionaries (the versioned-append persistence
    of ``NGlobalDictionaryV2.java`` — ids already handed out never move)
    and record the covered file listing. Subsequent hybrid
    intersect/distinct queries whose tail files are all covered skip the
    per-query dictionary-extend job entirely (`_encode_tail` fast path) —
    the extend's distinct + anti-join + offset collects run once per
    refresh/compaction instead of once per query.

    The listing is taken BEFORE the fold reads the store: a micro-batch
    landing mid-fold contributes values (harmless — the dictionary is
    append-only) but its file is NOT recorded as covered, so the next
    query extends over it normally. Returns {param: new ids appended}."""
    bitmap_params = [
        m.function.parameter
        for m in inst.desc.measures
        if m.function.expression == "COUNT_DISTINCT"
        and (m.function.returntype or "") == "bitmap"
        and m.function.parameter
    ]
    if not bitmap_params:
        return {}
    files = _tail_files(part.realtime_dir, spark)
    rt = _normalize_ts(spark.read.parquet(part.realtime_dir), part.ts_col)
    added: dict[str, int] = {}
    fs = FS.fs_for(inst.storage_dir, spark)
    for param in bitmap_params:
        dict_path = inst.dict_path(param)
        base = inst.dict_df(spark, param)
        ext = GD.extend_global_dict(base, rt, param)
        if ext is base:  # nothing new in the tail
            added[param] = 0
            continue
        # sentinel-guarded staging swap (shared with build/refresh): ext is
        # checkpointed, so overwriting its own source is safe; a crash
        # mid-swap is rolled forward by repair_dict_swap at the next read
        ext.write.mode("overwrite").parquet(dict_path + "_staging")
        n_before = base.count()
        GD.publish_dict_staging(fs, dict_path)
        written = spark.read.parquet(dict_path)
        inst.dict_schemas[param] = written.schema
        added[param] = written.count() - n_before
    if any(added.values()):
        inst.save_meta()
    FS.write_json(_cover_path(inst), {"files": files}, spark)
    return added


def _encode_tail(
    rt: DataFrame,
    inst: CubeInstance,
    param: str,
    spark: SparkSession,
    covered: bool,
) -> DataFrame:
    """Dictionary-encode the realtime tail through an in-memory EXTENSION of
    the cube's frozen global dictionary: values the batch build already saw
    keep their ids (so tail bags and stored bags reference the same id
    space), unseen values append after the current max (versioned-append
    semantics of NGlobalDictionaryV2 — the persisted dictionary itself is
    NOT mutated by queries). Cost is O(distinct tail values): a distinct +
    anti-join over the boundary-pruned tail only, never the batch store —
    and ZERO when :func:`fold_tail_dictionary` already covers every current
    tail file (the refresh/compaction maintenance path): the persisted
    dictionary is then complete for the tail and the extend job is skipped.

    Returns ``(encoded tail, extended dictionary)`` — INTERSECT_VALUE needs
    the EXTENDED mapping to decode bits back to values (a tail-only value's
    id exists nowhere in the persisted dictionary).

    ``covered`` is the caller's :func:`_tail_covered` answer, computed ONCE
    per query however many params it encodes (the check walks the realtime
    store's file listing driver-side — per-query cost must not scale with
    the number of bitmap params; r11 advisor)."""
    base = inst.dict_df(spark, param)
    if covered:
        return GD.encode_column(rt, base, param), base
    ext = GD.extend_global_dict(base, rt, param)
    return GD.encode_column(rt, ext, param), ext


def execute_hybrid(
    digest: SqlDigest,
    inst: CubeInstance,
    route: Route,
    part: HybridPart,
    spark: SparkSession,
) -> DataFrame:
    """Serve ``digest`` as batch-cuboid partials UNION realtime-tail
    partials, re-merged, then the ordinary post-aggregation tail.

    Batch and tail merge ONCE at the finest grain (every group column), and
    each grouping set is derived from that merged state; a plain GROUP BY is
    the one-set case and takes the merged frame as it is. Additive partials
    re-aggregate exactly (SUM of SUMs, COUNT partials by SUM, MIN of MINs,
    MAX of MAXs); AVG decomposes into SUM/COUNT partials and divides once
    above the merge. Mergeable state stays UN-finalized at the finest grain,
    and each set re-counts it at its own grain: word bags (distinct,
    conditional distinct, INTERSECT_COUNT/VALUE) by ``bit_or`` and HLL
    sketches by register-max — both idempotent — percentile sketches by
    their additive merge, and dimension tuples by set union. GROUPING()
    indicators are per-set literals; aggregated-away columns null-pad with
    their scanned types (AggregateMultipleExpandRule.java:45-120 parity)."""
    import copy

    from kylin_on_parquet_v2_spark.cube.measures import _hll_lgk
    from kylin_on_parquet_v2_spark.query.digest import AggCall, SelectItem

    G = list(digest.group_cols)
    rt = spark.read.parquet(part.realtime_dir)
    rt = _normalize_ts(rt, part.ts_col)
    boundary = batch_boundary(inst, spark)
    if SEGMENT_COL not in rt.columns:
        raise ValueError(
            f"realtime store {part.realtime_dir!r} lost its {SEGMENT_COL!r} "
            "column — cannot split at the batch boundary without "
            "double-counting; re-route through pushdown"
        )
    if boundary is not None:
        # STRICTLY after the batch coverage end; prefix compare tolerates a
        # finer realtime dir format. Partition-column expression => Catalyst
        # evaluates it at listing time (PartitionFilters), pruning whole
        # pre-boundary segment dirs.
        rt = rt.filter(
            F.substring(F.col(SEGMENT_COL), 1, len(boundary)) > boundary
        )
    # derived-dimension recovery on the tail BEFORE the query filter: the
    # filter/grouping may reference lookup columns the raw store lacks —
    # the same broadcast snapshot join the batch scan applies
    rt = apply_derived_joins(rt, route, inst, spark)
    if digest.filter_sql:
        rt = rt.filter(F.expr(digest.filter_sql))
    for gname, (gsql, _bases) in digest.group_exprs.items():
        rt = rt.withColumn(gname, F.expr(gsql))

    # one routed scan (pruned layout + derived recovery + filters + group
    # exprs) shared by the plain-partial path AND every state pipeline
    batch_scan = routed_layout_scan(digest, inst, route, spark)
    if route.topn is not None:
        # stored-TopN across the split: batch lists explode into
        # (rank key, partial sum) rows; the tail contributes EXACT per-key
        # sums over its (boundary-pruned, query-filtered) rows; re-sum and
        # let the ordinary ORDER BY/LIMIT tail re-rank. A pinned day fully
        # on either side of the boundary stays exact (the other side's
        # contribution is empty); spanning shapes carry the declared
        # merged-list bound and require the engine's approx_topn opt-in.
        alias, mname, rank = route.topn
        g = [c for c in digest.group_cols if c != rank]
        lists = batch_scan.select(*g, F.explode(mname).alias("__t")).select(
            *g, F.col("__t.key").alias(rank), F.col("__t.val").alias(alias)
        )
        measures = {m.name: m for m in inst.desc.measures}
        param = measures[mname].function.parameter
        tail_sums = rt.groupBy(*g, rank).agg(F.sum(param).alias(alias))
        tail_sums = tail_sums.select(
            *[F.col(c).cast(lists.schema[c].dataType).alias(c) for c in lists.columns]
        )
        merged = (
            lists.unionByName(tail_sums)
            .groupBy(*g, rank)
            .agg(F.sum(alias).alias(alias))
        )
        result = merged.select(
            *[
                F.col(item.group_col).alias(item.name)
                if item.group_col is not None
                else F.col(item.name)
                for item in digest.select
            ]
        )
        return apply_post_aggregation(digest, result)

    # finest-grain core: every group column as a passthrough plus the plain
    # partials, WITHOUT having/sort/limit/window post-processing (those
    # apply once, above the merge). AVG outputs decompose into SUM/COUNT
    # partial columns; state-served outputs leave the plain partials
    # entirely — they merge through their own pipelines below.
    core = copy.copy(digest)
    core.grouping_sets = None
    core.sort, core.limit = [], None
    core.having_sql, core.having_cols = None, set()
    core.window_exprs, core.window_projects = [], []
    core.hidden = []
    core.select = [SelectItem(name=c, group_col=c) for c in G]
    avg_parts: dict[str, Column] = {}
    schema = inst.layout_schemas[route.cuboid.cuboid_id]
    bag_items: list[SelectItem] = []
    pct_by_col: dict[str, list[SelectItem]] = {}
    dd_items: list[SelectItem] = []  # dim-served COUNT DISTINCT
    for item in digest.select:
        a = item.agg
        if a is None:
            continue  # group columns and GROUPING() indicators
        if _bag_served(item.name, route):
            bag_items.append(item)
        elif a.distinct and _dim_distinct_cols(a, route) is not None:
            dd_items.append(item)
        elif a.func == "PERCENTILE":
            pct_by_col.setdefault(a.column, []).append(item)
        elif a.func == "AVG":
            i = len(avg_parts)
            sa, ca = f"__avs{i}", f"__avc{i}"
            t = avg_type(inst, spark, a, schema)
            avg_parts[item.name] = divide_avg(F.col(sa), F.col(ca), t)
            core.select.append(
                SelectItem(name=sa, agg=AggCall("SUM", a.column, False, sa, a.expr_sql))
            )
            core.select.append(
                SelectItem(name=ca, agg=AggCall("COUNT", a.column, False, ca, a.expr_sql))
            )
        else:
            core.select.append(item)
    plain_aggs = core.select[len(G):]

    mgd, merge_aggs = None, []
    if plain_aggs:
        batch = execute_route(core, inst, route, spark, scan=batch_scan)
        part_aggs = []
        for item in plain_aggs:
            a = item.agg
            src = F.expr(a.expr_sql) if a.expr_sql is not None else (
                F.lit(1) if a.column is None else F.col(a.column)
            )
            fn = {"COUNT": F.count, "SUM": F.sum, "MIN": F.min, "MAX": F.max}[a.func]
            part_aggs.append(fn(src).alias(item.name))
            # a double SUM re-merges the unioned partials exactly
            merge_aggs.append(merge_column(a.func, item.name, batch.schema).alias(item.name))
        # realtime partial aggregation at the SAME grain as the batch
        # partials, its types aligned to the batch side before the union
        rt_part = rt.groupBy(*G).agg(*part_aggs)
        rt_part = rt_part.select(
            *[F.col(c).cast(batch.schema[c].dataType).alias(c) for c in batch.columns]
        )
        mgd = batch.unionByName(rt_part).groupBy(*G).agg(*merge_aggs)
    elif G:
        # no plain aggregates: the group universe still must include groups
        # whose distinct column is entirely NULL (count = 0)
        mgd = batch_scan.select(*G).unionByName(rt.select(*G)).dropDuplicates()

    # merged-but-unfinalized state per output at the finest grain, each
    # finalized per grouping set: (output name, counts(keys) -> frame over
    # that state, value of a group with no state — see join_counts).
    # Per-param tail encodings are computed once even when several outputs
    # share a distinct column; the fold-coverage check (a driver-side store
    # listing) runs AT MOST once per query, and only if some output actually
    # encodes the tail (hll/percentile/dim-distinct outputs never do)
    measures = {m.name: m for m in inst.desc.measures}
    enc_cache: dict[str, tuple] = {}
    _cov_memo: list = []

    def tail_cov() -> bool:
        if not _cov_memo:
            _cov_memo.append(_tail_covered(inst, part, spark))
        return _cov_memo[0]

    states: list[tuple] = []
    for item in bag_items:
        name = item.name
        if name in route.approx_distinct:
            # hllc across the split: stored batch sketches UNION sketches
            # built over the tail — HLL union is register-max, idempotent,
            # so overlap is safe
            mname = route.approx_distinct[name]
            func = measures[mname].function
            sketch = F.hll_sketch_agg(F.col(func.parameter), F.lit(_hll_lgk(func)))
            tail_sk = rt.groupBy(*G).agg(sketch.alias(mname))
            frame = batch_scan.select(*G, mname).unionByName(tail_sk)
            est = F.hll_sketch_estimate(F.hll_union_agg(mname)).alias(name)
            states.append((name, partial(_agg_at, frame, aggs=[est]), 0))
            continue
        cond = fcol = None
        if name in route.bitmap_distinct:
            mname = route.bitmap_distinct[name]
        elif name in route.bitmap_cond:
            mname, cond = route.bitmap_cond[name]
        elif name in route.bitmap_intersect:
            mname, fcol, vals = route.bitmap_intersect[name]
        else:
            mname, fcol, vals = route.bitmap_intersect_value[name]
        param = measures[mname].function.parameter
        if param not in enc_cache:
            # encode the UNFILTERED tail once per param; cohort filters
            # commute with the encoding join, so cond items filter the
            # encoded frame instead of re-running the dict extension
            enc_cache[param] = _encode_tail(rt, inst, param, spark, tail_cov())
        tail_enc, ext_dict = enc_cache[param]
        b_side = batch_scan if cond is None else batch_scan.filter(F.expr(cond))
        t_side = tail_enc if cond is None else tail_enc.filter(F.expr(cond))
        # the cohort column may itself be a group key — dedupe
        grain = G + ([fcol] if fcol is not None and fcol not in G else [])
        tail_bags = GD.bitmap_build_agg(t_side, grain, GD.dict_col(param), mname)
        frame = b_side.select(*grain, mname).unionByName(tail_bags)
        if fcol is None:
            counts, empty = partial(GD.bitmap_count, frame, name=mname, alias=name), 0
        elif name in route.bitmap_intersect:
            counts, empty = partial(
                GD.bitmap_intersect_count, frame, name=mname, filter_col=fcol,
                values_sql=list(vals), alias=name,
            ), 0
        else:
            # INTERSECT_VALUE decodes through the EXTENDED dictionary: a
            # tail-only value's id exists nowhere in the persisted one
            counts, empty = partial(
                GD.bitmap_intersect_value, frame, name=mname, filter_col=fcol,
                values_sql=list(vals), alias=name, dictionary=ext_dict,
            ), ""
        states.append((name, counts, empty))
    for items in pct_by_col.values():
        # one merged sketch per COLUMN, every quantile asked of it read from
        # the same aggregate: the stored state (histogram bins / KLL weighted
        # sample) is additive and the split disjoint, so batch + tail
        # sketches merge exactly. NO fill: the percentile of a group with no
        # values is NULL, exactly like percentile_approx over zero rows
        m, build, quantile = percentile_sketch(items[0].agg.column, inst)
        frame = batch_scan.select(*G, m.name).unionByName(build(rt, G))
        aggs = [quantile(it.agg.q).alias(it.name) for it in items]
        states.append((None, partial(_agg_at, frame, aggs=aggs), None))
    for item in dd_items:
        # dims survive in the layout: set-union the layout's distinct dim
        # tuples with the tail's rows, count once (DimCountDistinct across
        # the split — set union is idempotent by definition)
        cols = _dim_distinct_cols(item.agg, route)
        extra = [c for c in cols if c not in G]
        frame = batch_scan.select(*G, *extra).unionByName(rt.select(*G, *extra))
        nd = F.count_distinct(*[F.col(c) for c in cols]).alias(item.name)
        states.append((item.name, partial(_agg_at, frame, aggs=[nd]), 0))

    sets = digest.grouping_sets if digest.grouping_sets is not None else [G]
    types: dict = {}
    branches = []
    for gset in sets:
        keys = list(gset)
        if mgd is None or keys == G:
            branch = mgd  # the finest set is the merged frame itself
        elif merge_aggs:
            branch = mgd.groupBy(*keys).agg(*merge_aggs)
        elif keys:
            branch = mgd.select(*keys).dropDuplicates()
        else:
            branch = None  # global set whose only aggs are state-served
        for name, counts, empty in states:
            branch = join_counts(branch, counts(keys), keys, name, empty)
        proj = set_projection(digest, gset, batch_scan, types, avg_parts)
        branches.append(branch.select(*proj))
    result = branches[0]
    for b in branches[1:]:
        result = result.unionAll(b)
    return apply_post_aggregation(digest, result)


def _agg_at(frame: DataFrame, keys: list, aggs: list) -> DataFrame:
    """``aggs`` over ``frame`` grouped by one grouping set's keys."""
    return frame.groupBy(*keys).agg(*aggs)
