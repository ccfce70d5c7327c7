"""Cuboid router: match a SqlDigest against a built cube and answer the
query from the best-matching pre-aggregated layout.

Reference parity:
- realization choice: ``query/.../routing/RealizationChooser.java:60-100``
- cuboid match: ``Cuboid.findCuboid`` -> ``DefaultCuboidScheduler.findBestMatchCuboid:93-120``
- exact-match skip (no query-time re-aggregation): ``GTCubeStorageQueryBase.java:164-186``,
  ``AggregatePlan.scala:54-60``
- measure rewrite (SQL agg -> stored measure field): ``OLAPAggregateRel.java:528-600``
- AVG: decomposed to SUM/COUNT like Calcite's standard rewrite (AVG never
  reaches the reference runtime — OLAPAggregateRel.java:94-116 has no AVG).
- derived dimensions: lookup columns recovered by joining the lookup
  (snapshot) back onto the cuboid rows via its host FK dims
  (``runtime/DerivedProcess.scala:38-188``).
- segment pruning: date bounds on the model partition column folded into
  ``__segment__`` partition predicates so Spark prunes whole segment dirs
  before listing files (``FilePruner.pruneSegments``/``SegFilters.foldFilter``,
  ``FilePruner.scala:265-285,385-470``).

A wrong cuboid match is silent data corruption, so matching is conservative:
unknown shapes return None and the engine answers from the flat path.
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, StructType

from kylin_on_parquet_v2_spark.cube import dictionary as GD
from kylin_on_parquet_v2_spark.cube import measures as M
from kylin_on_parquet_v2_spark.cube.build import (
    SEGMENT_COL,
    SHARD_COL,
    CubeInstance,
    join_null_safe,
)
from kylin_on_parquet_v2_spark.cube.cuboid import Cuboid
from kylin_on_parquet_v2_spark.metadata.cube import MeasureDesc
from kylin_on_parquet_v2_spark.metadata.model import JoinTable
from kylin_on_parquet_v2_spark.query.digest import AggCall, SqlDigest
from kylin_on_parquet_v2_spark.query.time_rewrite import rewrite_time_grains


#: re-aggregation of a stored (or partial) measure per SQL aggregate —
#: COUNT partials merge by SUM (CuboidAggregator.scala:86-91 applies the
#: same COUNT->SUM rule when re-aggregating a child layout from a parent)
MERGE = {"COUNT": F.sum, "SUM": F.sum, "MIN": F.min, "MAX": F.max}

#: a routed layout of at most this many recorded rows is read as ONE
#: partition, so every aggregation above its scan finds its required
#: distribution already met and the read runs as one Spark stage, with no
#: shuffle (the reference sizes each query's parallelism from its scanned
#: bytes the same way: ResultPlan.scala:42,67-73,
#: ResetShufflePartition.scala:43-57). Above it, or with no recorded
#: count, the scan keeps Spark's file splits.
ONE_PARTITION_ROWS = 100_000


@dataclass
class Route:
    cube: str
    cuboid: Cuboid
    exact: bool  # cuboid dims == query dims -> no re-aggregation needed
    #: lookups to join back for derived-dimension recovery
    derived: list[JoinTable] = field(default_factory=list)
    #: pruning predicates on the segment partition column
    segment_filters: list[str] = field(default_factory=list)
    #: segments PROVABLY disjoint from the filter by their recorded
    #: per-dimension min/max (SegmentPruner + DimensionRangeInfo parity) —
    #: excluded from the scan via NOT IN, so segments with no recorded
    #: ranges (e.g. freshly appended) are always kept
    segment_reject: list[str] = field(default_factory=list)
    #: alias -> hll measure name, for COUNT DISTINCT served approximately
    #: (the reference's hllc measure semantics — opt-in via engine.sql)
    approx_distinct: dict[str, str] = field(default_factory=dict)
    #: alias -> bitmap measure name: COUNT DISTINCT served EXACTLY from the
    #: stored dictionary-id bitmap (PreciseCountDistinct parity) — on by
    #: default, unlike the accuracy-trading hll path
    bitmap_distinct: dict[str, str] = field(default_factory=dict)
    #: alias -> (bitmap measure name, cohort condition SQL): conditional
    #: distinct ``count(distinct case when cond then col end)`` served from
    #: the stored bitmap — layout rows are cohort-filtered on dimension
    #: columns, then the word bags re-OR and count exactly
    bitmap_cond: dict[str, tuple[str, str]] = field(default_factory=dict)
    #: alias -> (bitmap measure name, filter column, cohort literal SQLs):
    #: INTERSECT_COUNT served by bit_and-ing per-cohort word bags
    #: (IntersectCount.scala / IntersectBitmapCounter.scala parity)
    bitmap_intersect: dict[str, tuple[str, str, tuple[str, ...]]] = field(
        default_factory=dict
    )
    #: alias -> (bitmap measure name, filter column, cohort literal SQLs):
    #: INTERSECT_VALUE — same per-cohort bit_and as INTERSECT_COUNT, but the
    #: surviving bits are decoded back through the measure's global
    #: dictionary to the actual member values
    #: (BitmapIntersectValueAggFunc.java / RetentionPartialResult.valueResult)
    bitmap_intersect_value: dict[str, tuple[str, str, tuple[str, ...]]] = field(
        default_factory=dict
    )
    #: (sum alias, measure name, rank column) when the query is served by a
    #: stored TopN measure (TopNMeasureType.java:411-441 rewrite): the layout
    #: row's array<struct<key,val>> is exploded instead of scanning the rank
    #: dimension's rows
    topn: tuple[str, str, str] | None = None
    #: the TopN route merges MULTIPLE stored lists per group (multi-segment
    #: range / whole-history queries) — APPROXIMATE with a declared bound
    #: (a key missing from one segment's list loses at most that list's
    #: minimum value; TopNMeasureType.java:261-330 sets this capability to
    #: approximate). Opt-in via engine.sql(approx_topn=True); exact refusal
    #: stays the default.
    topn_approx: bool = False
    #: (shard column, literal SQL) for an equality filter on the layout's
    #: shard key — folded into a __shard__ partition predicate at execution
    #: (FilePruner.pruneShards parity; prunes whole shard dirs)
    shard_eq: tuple[str, str] | None = None
    #: alias -> dimension column: MIN/MAX answered from the dimension values
    #: themselves, no declared measure needed (FunctionDesc.isDimensionAsMetric
    #: — min/max over the layout's distinct dim values equals min/max over
    #: the raw rows)
    dim_served: dict[str, str] = field(default_factory=dict)
    #: realtime store dir when the cube is a HYBRID realization: the served
    #: answer is batch-layout partials UNION the post-boundary realtime tail,
    #: re-merged (reference storage/hybrid/HybridInstance, split at
    #: TableScanPlan.scala:58-62). Set by the engine at execution time.
    hybrid_tail: str | None = None
    #: stored time-derived dims the grain rewrite substituted for raw
    #: event-time expressions (TimeDerivedColumnType parity) — observability
    #: only; empty when the digest needed no rewrite
    time_rewritten: tuple[str, ...] = ()
    #: the layout's recorded row count is at most ONE_PARTITION_ROWS:
    #: routed_layout_scan reads it as one partition
    one_partition: bool = False


def _match_joins(digest: SqlDigest, inst: CubeInstance) -> bool:
    """The query's join graph must be a subgraph of the model's.

    Lookups are PK-FK joins, so a query joining *fewer* lookups than the
    model still reads correct multiplicities from the cuboid (the reference
    relies on the same model-integrity assumption).
    """
    model = inst.model
    fact = model.fact_table
    if fact not in digest.tables:
        return False
    lookup_names = {lk.name: lk for lk in model.lookups}
    if not (digest.tables - {fact}) <= set(lookup_names):
        return False
    for edge in digest.joins:
        matched = False
        for lk in model.lookups:
            fk_table = lk.fk_table or fact
            keysets = {
                (fk_table, lk.table, lk.join.foreign_key, lk.join.primary_key),
                (lk.table, fk_table, lk.join.primary_key, lk.join.foreign_key),
            }
            edge_key = (edge.left_table, edge.right_table, edge.left_cols, edge.right_cols)
            if edge_key in keysets and edge.join_type == lk.join.join_type:
                matched = True
                break
        if not matched:
            return False
    return True


def _measure_for(agg: AggCall, inst: CubeInstance) -> MeasureDesc | None:
    want = {"COUNT": "COUNT", "SUM": "SUM", "MIN": "MIN", "MAX": "MAX"}.get(agg.func)
    if want is None:
        return None
    column = agg.column
    if agg.expr_sql is not None:
        # Agg over an expression: usable only when the model declares a
        # matching computed column (materialized in the flat table at build,
        # CreateFlatTable.scala:43-95) — rewrite onto its measure
        # (OLAPAggregateRel.java:528-600).
        column = inst.computed_canon.get(agg.expr_sql)
        if column is None:
            return None
    for m in inst.desc.measures:
        if m.function.expression == want and m.function.parameter == column:
            return m
    return None


def _derived_host(col: str, inst: CubeInstance) -> JoinTable | None:
    """A lookup that can recover `col` at query time: hosts the column, and
    its foreign keys are all cube dimensions (DerivedProcess host-FK rule)."""
    dims = set(inst.desc.dimensions)
    table = inst.column_tables.get(col)
    if table is None or table == inst.model.fact_table:
        return None
    for lk in inst.model.lookups:
        if lk.name == table and set(lk.join.foreign_key) <= dims:
            return lk
    return None


def _fold_segment_filters(digest: SqlDigest, inst: CubeInstance) -> list[str]:
    """Fold date bounds on the partition column into segment predicates.

    Only sound for pure conjunctions: an OR/NOT anywhere disables pruning
    (the reference's foldFilter handles the same cases conservatively).
    The derived predicate only *narrows the scan* — the original row filter
    still applies, so a missed fold costs performance, never correctness.
    """
    pcol = inst.model.partition_column
    sql = digest.filter_sql
    if not inst.segmented or pcol is None or not sql:
        return []
    if re.search(r"\bOR\b|\bNOT\b", sql, re.IGNORECASE):
        return []
    # Fold ONLY whole top-level AND conjuncts: a partition-column comparison
    # buried inside CASE WHEN/IF/function args is not a conjunct and folding
    # it would wrongly prune rows the row filter keeps. Splitting on AND and
    # requiring a fullmatch makes any non-conjunct occurrence fall through
    # (BETWEEN also splits into non-matching halves — missed fold, never a
    # wrong one). Matches the conservatism of SegFilters.foldFilter.
    conjunct_pat = re.compile(
        rf"\(*\s*{re.escape(pcol)}\s*(>=|<=|=|<|>)\s*"
        rf"(?:CAST\s*\(\s*)?(?:DATE|TIMESTAMP(?:_NTZ)?)\s*"
        rf"'(\d{{4}}-\d{{2}}-\d{{2}})[^']*'\s*(?:AS\s+\w+\s*\)\s*)?\)*\s*",
        re.IGNORECASE,
    )
    # Catalyst renders the BETWEEN predicate as the function spelling
    # ``between(col, lo, hi)``; accept the infix form too (transformers /
    # hand-built digests)
    lit = r"(?:CAST\s*\(\s*)?(?:DATE|TIMESTAMP(?:_NTZ)?)\s*'(\d{4}-\d{2}-\d{2})[^']*'\s*(?:AS\s+\w+\s*\)\s*)?"
    between_pat = re.compile(
        rf"(?:between\(\s*{re.escape(pcol)}\s*,\s*{lit},\s*{lit}\)"
        rf"|{re.escape(pcol)}\s+BETWEEN\s+{lit}AND\s+{lit})",
        re.IGNORECASE,
    )
    matches: list[tuple[str, str]] = []
    # _split_conjuncts is paren/quote/BETWEEN-aware, so a BETWEEN range on
    # the partition column arrives as ONE conjunct and folds into both
    # bounds (the naive AND-split used to shred it — a missed fold)
    for part in _split_conjuncts(sql):
        m = conjunct_pat.fullmatch(part)
        if m:
            matches.append((m.group(1), m.group(2)))
            continue
        b = between_pat.fullmatch(part)
        if b:
            lo, hi = (g for g in b.groups() if g is not None)
            matches.append((">=", lo))
            matches.append(("<=", hi))
    gran = inst.desc.segment_granularity
    out = []
    for op, lit in matches:
        d = _dt.date.fromisoformat(lit)
        if gran == "month":
            seg = d.replace(day=1)
        elif gran == "year":
            seg = d.replace(month=1, day=1)
        else:  # day
            seg = d
        s = seg.isoformat()
        if op in (">=", ">", "="):
            # MERGED dirs are named by their range START; a lower bound
            # landing inside a merged range must relax to that start or the
            # dir (which still holds in-range rows) would be wrongly pruned.
            # Upper bounds need no adjustment: a straddling merged dir's
            # start is <= the bound, so it stays included (row filter trims).
            for start, end in inst.segment_ranges.items():
                if start <= s <= end:
                    s = start
                    break
            out.append(f"{SEGMENT_COL} >= '{s}'")
        if op in ("<=", "<", "="):
            out.append(f"{SEGMENT_COL} <= '{seg.isoformat()}'")
    return out


#: one comparable SQL literal as Catalyst renders it into filter_sql:
#: quoted string, typed DATE/TIMESTAMP literal, suffixed numeric (300.00BD,
#: 5L, ...), or any of those wrapped in the CAST(lit AS type) the analyzer
#: inserts for implicit casts (CAST('1995-06-15' AS DATE),
#: CAST(300.00BD AS DECIMAL(10,2)))
_CMP_LIT = (
    r"((?:CAST\s*\(\s*)?"
    r"(?:(?:DATE\s*|TIMESTAMP(?:_NTZ)?\s*)?'(?:[^']|'')*'"
    r"|-?\d+(?:\.\d+)?(?:BD|L|S|Y|D|F)?)"
    r"(?:\s+AS\s+\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?\s*\))?)"
)

_CAST_PAT = re.compile(
    r"(?is)^CAST\s*\(\s*(.*?)\s+AS\s+(\w+)(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?\s*\)$"
)


def _parse_range_literal(tok: str):
    """SQL literal -> python value for range comparison: quoted string
    (with '' unescape), int/float, typed DATE/TIMESTAMP literals parsed to
    date/datetime, suffixed numerics (``BD`` -> exact Decimal), and
    CAST-wrapped forms of all of these re-parsed through the CAST's target
    type. None = unsupported literal form (missed prune, never wrong)."""
    import decimal

    tok = tok.strip()
    c = _CAST_PAT.match(tok)
    if c:
        body, target = c.group(1), c.group(2).upper()
        inner = _parse_range_literal(body)
        if inner is None:
            return None
        try:
            if target == "DATE":
                return (
                    inner
                    if isinstance(inner, _dt.date)
                    else _dt.date.fromisoformat(str(inner))
                )
            if target in ("TIMESTAMP", "TIMESTAMP_NTZ"):
                return (
                    inner
                    if isinstance(inner, _dt.datetime)
                    else _dt.datetime.fromisoformat(str(inner))
                )
            if target == "DECIMAL":
                return decimal.Decimal(str(inner))
        except (ValueError, decimal.InvalidOperation):
            return None
        return inner  # widening numeric/string cast: value unchanged
    m = re.match(r"(?is)^(DATE|TIMESTAMP(?:_NTZ)?)\s*'(.*)'$", tok)
    if m:
        body = m.group(2).replace("''", "'")
        try:
            if m.group(1).upper() == "DATE":
                return _dt.date.fromisoformat(body)
            return _dt.datetime.fromisoformat(body)
        except ValueError:
            return None
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1].replace("''", "'")
    s = re.match(r"(?i)^(-?\d+(?:\.\d+)?)(BD|L|S|Y|D|F)$", tok)
    if s:
        body, suffix = s.group(1), s.group(2).upper()
        if suffix == "BD":
            return decimal.Decimal(body)
        if suffix in ("L", "S", "Y"):
            return int(body)
        return float(body)
    try:
        return int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            return None


def _coerce_range_literal(v, family: str | None):
    """Coerce a parsed filter literal into the dimension's recorded-range
    comparison domain (reference DataTypeOrder: each dtype compares in its
    own order). None = not comparable for this dim — the conjunct is simply
    not used (missed prune, never wrong). Plain dims (family None) refuse
    date/datetime literals; date dims accept ISO strings; timestamp dims
    promote a DATE literal to midnight (exactly Spark's ANSI cast in
    ``ts_dim >= DATE '...'``); decimal dims compare exactly via Decimal
    (binary-float comparison against decimal bounds could misprune)."""
    import decimal

    if family is None:
        if isinstance(v, (_dt.date, _dt.datetime)):
            return None
        return v
    try:
        if family == "date":
            if isinstance(v, _dt.datetime):
                return None  # sub-day bound on a date dim: skip
            if isinstance(v, _dt.date):
                return v
            if isinstance(v, str):
                return _dt.date.fromisoformat(v)
            return None
        if family == "timestamp":
            if isinstance(v, _dt.datetime):
                return v
            if isinstance(v, _dt.date):
                return _dt.datetime(v.year, v.month, v.day)
            if isinstance(v, str):
                return _dt.datetime.fromisoformat(v)
            return None
        if family == "decimal":
            if isinstance(v, decimal.Decimal):
                return v
            if isinstance(v, (int, str)):
                return decimal.Decimal(v)
            if isinstance(v, float):
                # float literals rendered by Catalyst are exact decimal
                # text in filter_sql; a genuine float re-parses via str
                return decimal.Decimal(str(v))
            return None
    except (ValueError, decimal.InvalidOperation):
        return None
    return None


def _coerce_bounds(bounds: list, family: str | None):
    """Recorded [min, max] -> comparison domain (see _coerce_range_literal);
    serialized ISO/decimal strings re-parse here. Raises on malformed
    bounds — callers treat that as 'cannot prove disjoint'."""
    import decimal

    if family is None:
        return bounds
    if family == "date":
        return [_dt.date.fromisoformat(b) for b in bounds]
    if family == "timestamp":
        return [_dt.datetime.fromisoformat(b) for b in bounds]
    if family == "decimal":
        return [decimal.Decimal(b) for b in bounds]
    return bounds


def _fold_dim_range_reject(digest: SqlDigest, inst: CubeInstance) -> list[str]:
    """Segments PROVABLY disjoint from the filter by their recorded
    per-dimension [min, max] (reference SegmentPruner.check +
    DimensionRangeInfo: a compare filter on ANY dimension prunes segments
    whose value range cannot satisfy it — not just partition-column dates).

    Same conservatism as the other folds: top-level AND conjuncts only,
    whole-filter OR/NOT disables, an unparseable conjunct is simply not
    used, and the verdict is NOT-IN of provable rejects — a segment with no
    recorded ranges (freshly appended, all-NULL dim) is always kept. The
    original row filter still runs, so a missed prune costs scan width,
    never correctness.

    Staleness contract (same as the TSRange fold's segment_filters): the
    reject list is frozen into the Route, and Routes are memoized — a
    merged dir REUSES its first absorbed segment's name with wider ranges,
    so a stale reject of that name would wrongly prune the whole merged
    range. ENFORCED by ``CubeInstance.lifecycle_epoch`` (round-9 advisor):
    every commit/uncommit/dim-range recompute bumps the epoch, the engine
    stores it in the memoized decision, and ``_serve`` re-plans decisions
    whose epoch mismatches — callers driving ``cube/merge.py`` directly no
    longer need to clear ``engine._route_memo`` by hand (refresh_cube still
    clears wholesale as defense in depth)."""
    sql = digest.filter_sql
    if not inst.segmented or not inst.dim_ranges or not sql:
        return []
    if re.search(r"\bOR\b|\bNOT\b", sql, re.IGNORECASE):
        return []
    dims = set(inst.desc.dimensions)
    # (dim, checker(mn, mx) -> bool satisfiable) per translated conjunct
    checks: list[tuple[str, object]] = []
    cmp_pat = re.compile(
        rf"\(*\s*([A-Za-z_]\w*)\s*(>=|<=|=|<|>)\s*{_CMP_LIT}\s*\)*\s*"
    )
    between_pat = re.compile(
        rf"(?:between\(\s*([A-Za-z_]\w*)\s*,\s*{_CMP_LIT}\s*,\s*{_CMP_LIT}\s*\)"
        rf"|([A-Za-z_]\w*)\s+BETWEEN\s+{_CMP_LIT}\s+AND\s+{_CMP_LIT})\s*",
        re.IGNORECASE,
    )
    in_pat = re.compile(
        rf"\(*\s*([A-Za-z_]\w*)\s+IN\s*\(\s*({_CMP_LIT}(?:\s*,\s*{_CMP_LIT})*)\s*\)\s*\)*\s*",
        re.IGNORECASE,
    )

    def _cmp_check(op: str, v):
        return {
            "=": lambda mn, mx: mn <= v <= mx,
            "<": lambda mn, mx: mn < v,
            "<=": lambda mn, mx: mn <= v,
            ">": lambda mn, mx: mx > v,
            ">=": lambda mn, mx: mx >= v,
        }[op]

    families = inst.dim_range_types or {}

    #: Catalyst wraps the COLUMN side of typed comparisons in the implicit
    #: widening cast (``CAST(o_mdec AS DECIMAL(12,2)) IN (...)``). Strip it
    #: ONLY when the cast target's family matches the dim's recorded family
    #: (a same-family widening cast is exact and order-preserving; anything
    #: else — date->timestamp, decimal->double — changes comparison
    #: semantics and must fall through unparsed: missed prune, never wrong).
    _col_cast = re.compile(
        r"(?i)CAST\s*\(\s*([A-Za-z_]\w*)\s+AS\s+(\w+)"
        r"(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?\s*\)"
    )
    _target_fam = {
        "DATE": "date",
        "TIMESTAMP": "timestamp",
        "TIMESTAMP_NTZ": "timestamp",
        "DECIMAL": "decimal",
    }

    def _strip_col_casts(m: re.Match) -> str:
        col = m.group(1)
        if families.get(col) == _target_fam.get(m.group(2).upper()):
            return col
        return m.group(0)

    for part in _split_conjuncts(sql):
        part = _col_cast.sub(_strip_col_casts, part)
        m = cmp_pat.fullmatch(part)
        if m and m.group(1) in dims:
            v = _coerce_range_literal(
                _parse_range_literal(m.group(3)), families.get(m.group(1))
            )
            if v is not None:
                checks.append((m.group(1), _cmp_check(m.group(2), v)))
            continue
        b = between_pat.fullmatch(part)
        if b:
            col = b.group(1) or b.group(4)
            lo_t, hi_t = (g for g in (b.group(2), b.group(3), b.group(5), b.group(6)) if g)
            fam = families.get(col)
            lo = _coerce_range_literal(_parse_range_literal(lo_t), fam)
            hi = _coerce_range_literal(_parse_range_literal(hi_t), fam)
            if col in dims and lo is not None and hi is not None:
                checks.append(
                    (col, lambda mn, mx, lo=lo, hi=hi: mx >= lo and mn <= hi)
                )
            continue
        i = in_pat.fullmatch(part)
        if i and i.group(1) in dims:
            fam = families.get(i.group(1))
            vals = [
                _coerce_range_literal(_parse_range_literal(t), fam)
                for t in re.findall(_CMP_LIT, i.group(2))
            ]
            if all(v is not None for v in vals) and vals:
                checks.append(
                    (i.group(1), lambda mn, mx, vs=vals: any(mn <= v <= mx for v in vs))
                )
    if not checks:
        return []
    rejected = []
    for seg, ranges in inst.dim_ranges.items():
        for dim, ok in checks:
            bounds = ranges.get(dim)
            if bounds is None:
                continue  # unknown range: cannot prove disjoint
            try:
                mn, mx = _coerce_bounds(bounds, families.get(dim))
                satisfiable = ok(mn, mx)
            except (TypeError, ValueError, ArithmeticError):
                # literal/bounds type mismatch or malformed serialized
                # bound: skip the conjunct for this segment — missed
                # prune, never wrong
                continue
            if not satisfiable:
                rejected.append(seg)
                break
    return rejected


def _fold_shard_filter(digest: SqlDigest, inst: CubeInstance, cuboid: Cuboid) -> tuple[str, str] | None:
    """An equality on the layout's shard column, provable as a top-level AND
    conjunct, prunes whole __shard__ dirs (FilePruner.pruneShards parity).
    Like segment folding, a missed fold only costs scan width — the row
    filter still applies — so parsing is conservative."""
    shard = inst.desc.shard_by
    sql = digest.filter_sql
    if not shard or not sql or shard not in cuboid.dims:
        return None
    if re.search(r"\bOR\b|\bNOT\b", sql, re.IGNORECASE):
        return None
    pat = re.compile(
        rf"\(*\s*{re.escape(shard)}\s*=\s*('[^']*'|-?\d+(?:\.\d+)?)\s*\)*\s*",
        re.IGNORECASE,
    )
    # paren/quote/BETWEEN-aware split (same splitter as segment folding):
    # the naive AND split shredded infix BETWEEN halves into phantom parts
    for part in _split_conjuncts(sql):
        m = pat.fullmatch(part.strip())
        if m:
            return (shard, m.group(1))
    return None


def _pins_single_segment(segment_filters: list[str]) -> bool:
    """True when the folded segment predicates provably select exactly ONE
    segment dir: a lower and an upper bound on the same segment value.

    The exact-match skip (project-only, zero query-time aggregation) is
    normally off for segmented cubes because a group's row repeats once per
    segment — but with a single pinned segment the repetition cannot occur
    (GTCubeStorageQueryBase.java:164-186 ``isNeedStorageAggregation``: the
    skip requires the scan not to span storage partitions)."""
    lo = {s.split("'")[1] for s in segment_filters if ">=" in s}
    hi = {s.split("'")[1] for s in segment_filters if "<=" in s}
    return bool(lo) and lo == hi and len(lo) == 1


def _hll_measure_for(col: str, inst: CubeInstance) -> MeasureDesc | None:
    for m in inst.desc.measures:
        if (
            m.function.expression == "COUNT_DISTINCT"
            and m.function.parameter == col
            and (m.function.returntype or "").startswith("hllc")
        ):
            return m
    return None


def _bitmap_measure_for(col: str, inst: CubeInstance) -> MeasureDesc | None:
    for m in inst.desc.measures:
        if (
            m.function.expression == "COUNT_DISTINCT"
            and m.function.parameter == col
            and (m.function.returntype or "") == "bitmap"
        ):
            return m
    return None


def _hist_measure_for(col: str, inst: CubeInstance) -> MeasureDesc | None:
    for m in inst.desc.measures:
        if (
            m.function.expression == "PERCENTILE_APPROX"
            and m.function.parameter == col
            and M.hist_spec(m.function) is not None
        ):
            return m
    return None


def _kll_measure_for(col: str, inst: CubeInstance) -> MeasureDesc | None:
    from kylin_on_parquet_v2_spark.cube.kll import kll_spec

    for m in inst.desc.measures:
        if (
            m.function.expression == "PERCENTILE_APPROX"
            and m.function.parameter == col
            and kll_spec(m.function) is not None
        ):
            return m
    return None


def percentile_sketch(col: str, inst: CubeInstance):
    """The stored sketch serving PERCENTILE over ``col``: the fixed-bin
    histogram measure when the cube declares one, else the KLL measure
    (plan_route routes no percentile without one of them).

    Returns ``(measure, build, quantile)``. ``build(df, keys)`` sketches raw
    rows at grain ``keys`` into a column named like the stored measure (the
    hybrid tail's state); ``quantile(q)`` reads q from the re-merged state,
    one merge expression shared by every quantile asked of the column."""
    from kylin_on_parquet_v2_spark.cube import kll as KLL

    m = _hist_measure_for(col, inst)
    if m is not None:

        def build(df: DataFrame, keys: list) -> DataFrame:
            return df.groupBy(*keys).agg(M.hist_build(m.function, m.name))

        merged, pct = M.hist_reagg(m.function, m.name), M.hist_percentile
    else:
        m = _kll_measure_for(col, inst)

        def build(df: DataFrame, keys: list) -> DataFrame:
            # two-phase: bounded per-partition partials even on a hot tail
            return KLL.kll_build_two_phase(df, list(keys), [(m.function, m.name)])

        merged, pct = KLL.kll_reagg(m.function, m.name), KLL.kll_percentile
    return m, build, lambda q: pct(m.function, merged, q)


def _plan_topn_route(
    digest: SqlDigest, inst: CubeInstance, approx_topn: bool = False
) -> Route | None:
    """``SELECT g..., r, SUM(m) ... GROUP BY g..., r ORDER BY SUM(m) DESC
    LIMIT k`` rewritten onto a stored TopN measure whose rank dim is ``r``
    (TopNMeasureType.java:411-441).

    Exactness boundary (capability check :261-330): the layout's dims must
    equal the non-rank group cols EXACTLY (no re-aggregation across layout
    rows — merged top-n lists are approximate), filters only on those dims,
    and k <= n. Under the build's total order (val desc, key asc) the stored
    per-group prefix preserves the global top-k prefix for k <= n.

    SEGMENTED cubes additionally serve the date-pinned dashboard top-k:
    when every extra filter conjunct is an EQUALITY on the partition column
    and the folds pin a single segment dir, the partition column joins the
    host-dim set — after the equality filter exactly one layout row (one
    stored list) survives per group, so the stored prefix stays exact
    (the storage-partition condition of TopNMeasureType.java:261-330).

    ``approx_topn=True`` (engine opt-in) additionally serves the
    multi-segment shapes the exact rule refuses — a date RANGE or the
    whole history — by MERGING the per-segment stored lists (explode,
    re-sum per key, re-rank). The reference serves the same shape
    approximately (its capability check declares sum-merge of truncated
    lists approximate). Declared error bound: a key absent from one
    segment's list loses at most that list's minimum stored value; keys in
    every list are exact. Exact refusal stays the default."""
    from kylin_on_parquet_v2_spark.cube.measures import topn_k

    if (
        digest.grouping_sets is not None
        or digest.having_sql is not None
        or digest.limit is None
        or not digest.sort
    ):
        return None
    if len(digest.aggs) != 1:
        return None
    agg = digest.aggs[0]
    if agg.func != "SUM" or agg.distinct or agg.column is None:
        return None
    sort_col, sort_asc = digest.sort[0][0], digest.sort[0][1]
    if sort_col != agg.alias or sort_asc:
        return None
    dims = set(inst.desc.dimensions)
    pcol = inst.model.partition_column
    for m in inst.desc.measures:
        f = m.function
        if f.expression != "TOP_N" or f.parameter != agg.column or not f.extra_params:
            continue
        rank = f.extra_params[0]
        if rank not in digest.group_cols:
            continue
        g = [c for c in digest.group_cols if c != rank]
        if not set(g) <= dims:
            continue
        extra_filter = digest.filter_cols - set(g)
        seg_filters: list[str] = []
        approx = False
        if inst.segmented:
            if extra_filter and extra_filter != {pcol}:
                continue
            seg_filters = _fold_segment_filters(digest, inst)
            pinned = _pins_single_segment(seg_filters) and _pcol_equality_only(
                digest, pcol
            )
            if not pinned:
                if not approx_topn:
                    continue
                # multi-segment merge: row-level correctness of any pcol
                # predicate is guaranteed because pcol is a dim of the host
                # layout (digest.filter_sql applies to the scanned rows);
                # seg_filters only ADD partition-dir pruning on top
                approx = True
            host = frozenset(g) | {pcol}
        else:
            if extra_filter:
                continue
            host = frozenset(g)
        if digest.limit > topn_k(f):
            continue
        from kylin_on_parquet_v2_spark.cube.build import CubeBuilder

        if len(host) > CubeBuilder.TOPN_HOST_MAX_DIMS:
            continue  # lists only materialized on narrow host layouts
        cuboid = inst.scheduler.find_best_match(host)
        if (
            cuboid is None
            or set(cuboid.dims) != set(host)
            or cuboid.cuboid_id not in inst.layouts
        ):
            continue
        return Route(
            cube=inst.desc.name,
            cuboid=cuboid,
            exact=False,
            topn=(agg.alias, m.name, rank),
            topn_approx=approx,
            segment_filters=seg_filters,
        )
    return None


def _pcol_equality_only(digest: SqlDigest, pcol: str | None) -> bool:
    """Every filter conjunct mentioning the partition column must be a bare
    date/timestamp EQUALITY on it — the condition under which the pinned
    stored-TopN route keeps exactly one list per group."""
    if pcol is None or not digest.filter_sql:
        return False
    eq = re.compile(
        rf"\(*\s*{re.escape(pcol)}\s*=\s*(?:CAST\s*\(\s*)?"
        rf"(?:DATE|TIMESTAMP(?:_NTZ)?)\s*'[^']*'\s*(?:AS\s+\w+\s*\)\s*)?\)*\s*",
        re.IGNORECASE,
    )
    ident = re.compile(rf"\b{re.escape(pcol)}\b", re.IGNORECASE)
    saw = False
    for conj in _split_conjuncts(digest.filter_sql):
        if ident.search(_STRING_LIT_RE.sub("''", conj)):
            if not eq.fullmatch(conj):
                return False
            saw = True
    return saw


def plan_route(
    digest: SqlDigest,
    inst: CubeInstance,
    approx_distinct: bool = False,
    approx_topn: bool = False,
) -> Route | None:
    # time-grain rewrite FIRST (TimeDerivedColumnType.java:35-151 parity):
    # grain expressions over a declared event-time column are mapped onto
    # the stored derived dims so BI-spelled queries match cuboids. The
    # rewrite is deterministic + idempotent; execute_route/
    # routed_layout_scan re-apply it to the caller's original digest and
    # land on the same expressions.
    digest = rewrite_time_grains(digest, inst)
    route = _plan_route_rewritten(digest, inst, approx_distinct, approx_topn)
    if route is not None:
        route.time_rewritten = tuple(getattr(digest, "_time_rewritten", ()))
        rows = inst.layout_rows.get(route.cuboid.cuboid_id)
        route.one_partition = rows is not None and rows <= ONE_PARTITION_ROWS
    return route


def _plan_route_rewritten(
    digest: SqlDigest,
    inst: CubeInstance,
    approx_distinct: bool = False,
    approx_topn: bool = False,
) -> Route | None:
    if not _match_joins(digest, inst):
        return None
    topn_route = _plan_topn_route(digest, inst, approx_topn)
    if topn_route is not None:
        return topn_route
    dims = set(inst.desc.dimensions)
    needed: set[str] = set()
    derived: dict[str, JoinTable] = {}
    approx: dict[str, str] = {}
    bitmap: dict[str, str] = {}
    bitmap_cond: dict[str, tuple[str, str]] = {}
    bitmap_intersect: dict[str, tuple[str, str, tuple[str, ...]]] = {}
    bitmap_intersect_value: dict[str, tuple[str, str, tuple[str, ...]]] = {}
    dim_served: dict[str, str] = {}

    def _need(col: str) -> bool:
        """Register a column the layout must provide; True if coverable."""
        if col in dims:
            needed.add(col)
            return True
        host = _derived_host(col, inst)
        if host is not None:
            derived[host.name] = host
            needed.update(host.join.foreign_key)
            return True
        return False

    for col in list(digest.group_cols) + sorted(digest.filter_cols):
        if col in digest.group_exprs:
            # grouping expression: the layout must provide its BASE columns;
            # the expression itself is evaluated over the layout rows
            for c in sorted(digest.group_exprs[col][1]):
                if not _need(c):
                    return None
        elif not _need(col):
            return None

    for agg in digest.aggs:
        if agg.func in ("INTERSECT_COUNT", "INTERSECT_VALUE"):
            # intersect_count(col, filter_col, array(...)): EXACT from the
            # stored bitmap — per-cohort word bags bit_and-ed together
            # (AggregatePlan.scala:68-92 routes the same call onto
            # PreciseCountDistinct state)
            # sound under grouping sets too: per-set re-OR of the cohort
            # bags is exact (bit_or idempotence), and the intersection of
            # the coarser-unioned bags IS the coarser intersection
            bm = _bitmap_measure_for(agg.column, inst)
            if (
                bm is None
                or agg.filter_col is None
                or not agg.values
                or not _need(agg.filter_col)
            ):
                return None
            if agg.func == "INTERSECT_VALUE":
                bitmap_intersect_value[agg.alias] = (bm.name, agg.filter_col, agg.values)
            else:
                bitmap_intersect[agg.alias] = (bm.name, agg.filter_col, agg.values)
        elif agg.distinct:
            if agg.func != "COUNT":
                return None
            if agg.columns:
                # multi-column distinct tuples: exact when every column is a
                # layout (or derived) column — DimCountDistinct generalized
                for c in agg.columns:
                    if not _need(c):
                        return None
                continue
            if agg.column is None:
                return None
            if agg.cond_sql is not None:
                # conditional distinct: cohort filter must land on layout
                # columns; count then comes exactly from the filtered bags
                # (per grouping set too — same idempotent re-OR argument)
                bm = _bitmap_measure_for(agg.column, inst)
                if bm is None:
                    return None
                for c in agg.cond_cols:
                    if not _need(c):
                        return None
                bitmap_cond[agg.alias] = (bm.name, agg.cond_sql)
                continue
            bm = _bitmap_measure_for(agg.column, inst)
            if agg.column in dims:
                needed.add(agg.column)  # exact distinct from dimensions
            elif bm is not None:
                # EXACT distinct from the stored dictionary-id bitmap —
                # no accuracy trade, so no opt-in needed. Works under
                # grouping sets too: each set re-counts the bags at its own
                # granularity (bit_or is idempotent, so coarser re-OR of the
                # same bags stays exact — PreciseCountDistinct re-agg parity)
                bitmap[agg.alias] = bm.name
            elif approx_distinct and _hll_measure_for(agg.column, inst) is not None:
                approx[agg.alias] = _hll_measure_for(agg.column, inst).name
            elif not _need(agg.column):
                return None
        elif agg.func == "PERCENTILE":
            # served from a mergeable sketch measure: histogram (oracle-able
            # default) or KLL (rank-accurate for heavy tails)
            # (PercentileMeasureType parity; accuracy declared up front)
            if (
                _hist_measure_for(agg.column, inst) is None
                and _kll_measure_for(agg.column, inst) is None
            ):
                return None
        elif agg.func == "AVG":
            # AVG = SUM(col)/COUNT(col) — COUNT(col), not COUNT(*): SQL AVG
            # ignores NULLs, so dividing by the row count silently understates
            # the answer on nullable columns (Calcite's rewrite also uses
            # COUNT(col); OLAPAggregateRel.java:94-116 has no AVG).
            if _measure_for(AggCall("SUM", agg.column, False, "", agg.expr_sql), inst) is None:
                return None
            if _measure_for(AggCall("COUNT", agg.column, False, "", agg.expr_sql), inst) is None:
                return None
        else:
            if _measure_for(agg, inst) is None:
                # MIN/MAX over a dimension (or derived) column need no
                # declared measure: every distinct value survives in the
                # layout, so min/max over the per-group dim values equals
                # min/max over the raw rows (the reference's
                # FunctionDesc.isDimensionAsMetric / DimensionAsMeasure —
                # GTCubeStorageQueryBase.java:300-320 serves these from the
                # rowkey). NOT sound for SUM/COUNT/AVG, which need row
                # multiplicities the collapsed layout no longer has.
                if (
                    agg.func in ("MIN", "MAX")
                    and agg.column is not None
                    and _need(agg.column)
                ):
                    dim_served[agg.alias] = agg.column
                else:
                    return None

    if digest.having_sql is not None:
        # HAVING refs must be select outputs (post-agg filter is then sound)
        out_names = {s.name for s in digest.select}
        if not digest.having_cols <= out_names:
            return None

    if digest.grouping_sets is not None and not digest.aggs:
        return None  # aggregate-free grouping sets: rare shape, pushdown

    cuboid = inst.scheduler.find_best_match(frozenset(needed), inst.layout_rows)
    if cuboid is None or cuboid.cuboid_id not in inst.layouts:
        return None
    seg_filters = _fold_segment_filters(digest, inst)
    exact = (
        # segmented layouts repeat a group's row once per segment, so the
        # project-only skip needs either no segmentation or a single pinned
        # segment (GTCubeStorageQueryBase isNeedStorageAggregation parity)
        (not inst.segmented or _pins_single_segment(seg_filters))
        and not derived
        and digest.grouping_sets is None
        and set(cuboid.dims) == set(digest.group_cols)
        and not any(
            a.distinct
            or a.func in ("AVG", "PERCENTILE", "INTERSECT_COUNT", "INTERSECT_VALUE")
            for a in digest.aggs
        )
    )
    return Route(
        cube=inst.desc.name,
        cuboid=cuboid,
        exact=exact,
        derived=list(derived.values()),
        segment_filters=seg_filters,
        segment_reject=_fold_dim_range_reject(digest, inst),
        approx_distinct=approx,
        bitmap_distinct=bitmap,
        bitmap_cond=bitmap_cond,
        bitmap_intersect=bitmap_intersect,
        bitmap_intersect_value=bitmap_intersect_value,
        shard_eq=_fold_shard_filter(digest, inst, cuboid),
        dim_served=dim_served,
    )


def _split_conjuncts(sql: str) -> list[str]:
    """Split a boolean SQL expression on TOP-LEVEL ``AND`` only — paren-,
    quote- and BETWEEN-aware (``a BETWEEN x AND y`` keeps its AND), so
    ``f(a AND b)`` or a literal ``'x AND y'`` never splits. Paren-wrapped
    parts are unwrapped and re-split recursively."""

    def _word_at(s: str, i: int, word: str) -> bool:
        n = len(word)
        if s[i : i + n].upper() != word:
            return False
        before = s[i - 1] if i > 0 else " "
        after = s[i + n] if i + n < len(s) else " "
        return not (before.isalnum() or before == "_") and not (
            after.isalnum() or after == "_"
        )

    parts: list[str] = []
    depth = 0
    quote: str | None = None
    between_pending = 0
    i = 0
    start = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if quote is not None:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and _word_at(sql, i, "BETWEEN"):
            # Only the INFIX form (`a BETWEEN x AND y`) owns a following
            # top-level AND. Catalyst renders the predicate as the FUNCTION
            # spelling `between(col, lo, hi)` — its args sit inside parens,
            # so arming the pending state for it would swallow the NEXT real
            # conjunct's AND and silently fuse two conjuncts into one
            # (pruning/translate regression, found by round-4 advisor).
            if not (i + 7 < n and sql[i + 7] == "("):
                between_pending += 1
            i += 7
            continue
        elif depth == 0 and _word_at(sql, i, "AND"):
            if between_pending:
                between_pending -= 1
            else:
                parts.append(sql[start:i])
                start = i + 3
            i += 3
            continue
        i += 1
    parts.append(sql[start:])
    out: list[str] = []
    for p in parts:
        p = p.strip()
        stripped = False
        while _balanced(p):
            p = p[1:-1].strip()
            stripped = True
        if stripped:
            out.extend(_split_conjuncts(p))
        else:
            out.append(p)
    return out


def _balanced(s: str) -> bool:
    """True when stripping one outer paren pair keeps the expression valid."""
    if not (s.startswith("(") and s.endswith(")")):
        return False
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0 and i < len(s) - 1:
                return False
    return True


_IDENT_RE = re.compile(r"\b[A-Za-z_][A-Za-z0-9_]*\b")
_STRING_LIT_RE = re.compile(r"'(?:[^']|'')*'")

#: Reference DerivedProcess gives up translating a derived filter once the
#: host IN-list would exceed its threshold (IT-limit); past this point the
#: post-join row filter alone is the better plan anyway. 1,024 rather than
#: the reference's 10k: a literal IN embeds its values in the PLAN, and
#: Catalyst analysis/optimization costs ~0.5ms per literal (measured on the
#: SSB Q4 flights: an 8,000-value translate spent 3.9s PLANNING to save
#: 0.1s of scan) — at low-thousands cardinality the filter is also rarely
#: selective enough for row-group pruning to repay that.
DERIVED_IN_THRESHOLD = 1_024


def _derived_prefilter(
    df: DataFrame, digest: SqlDigest, route: Route, inst: CubeInstance, spark
) -> DataFrame:
    """Translate filter conjuncts on derived (lookup) columns into host-FK
    IN-list prefilters on the layout scan (DerivedProcess.scala:38-188
    parity: a predicate on a snapshot column becomes a predicate on the FK
    the cube actually stores).

    Soundness: only whole top-level AND conjuncts translate — any layout row
    surviving the full filter satisfies each conjunct, and an inner-join
    conjunct over lookup columns holds iff the joined snapshot row holds it.
    For LEFT recovery joins the translate is applied only when the conjunct
    is null-REJECTING (a probe row of all-NULL lookup columns fails it):
    unmatched cuboid rows would be dropped by the post-join filter anyway.
    The original row filter still runs after the join, so the prefilter only
    narrows the scan — it can push an ``In`` down to Parquet row groups (and
    the shard/segment pruners upstream), never change the answer.
    """
    filter_sql = digest.filter_sql
    assert filter_sql is not None
    model_cols = inst.column_tables

    def _apply(df: DataFrame, fks: tuple[str, ...], vals: list[tuple]) -> DataFrame:
        # Single key: exact IN on the host FK. COMPOSITE key
        # (DerivedProcess.scala:38-188 translates these too): per-column IN
        # lists — the coordinate-wise relaxation of the matching pk-tuple
        # set. Sound: a superset filter only narrows the scan (the exact
        # post-join row filter still runs), and unlike a struct-tuple IN,
        # each column's In pushes down to Parquet row-group stats.
        if len(fks) == 1:
            return df.filter(F.col(fks[0]).isin([v[0] for v in vals]))
        for i, fk in enumerate(fks):
            df = df.filter(F.col(fk).isin(list({v[i] for v in vals})))
        return df

    layout_cols = set(inst.layout_schemas[route.cuboid.cuboid_id].fieldNames())
    for lk in route.derived:
        fks, pks = lk.join.foreign_key, lk.join.primary_key
        if any(fk not in layout_cols for fk in fks):
            continue
        for conj in _split_conjuncts(filter_sql):
            # key by lookup NAME + pk tuple: column_tables values are lookup
            # names (build.py uses lk.name), and the same conjunct translated
            # via different pk columns must not collide in the memo
            key = (lk.name, pks, conj)
            if key in inst.derived_in_cache:
                vals = inst.derived_in_cache[key]
                if vals is not None:
                    df = _apply(df, fks, vals)
                continue
            used = {
                t
                for t in _IDENT_RE.findall(_STRING_LIT_RE.sub("''", conj))
                if t in model_cols
            }
            if not used or any(model_cols[t] != lk.name for t in used):
                inst.derived_in_cache[key] = None
                continue
            lookup = inst.lookup_df(spark, lk.table)
            try:
                if lk.join.join_type == "left":
                    null_probe = spark.createDataFrame(
                        [tuple([None] * len(lookup.columns))], lookup.schema
                    )
                    if not null_probe.filter(F.expr(conj)).isEmpty():
                        # NULL-accepting conjunct (e.g. col IS NULL): an
                        # unmatched cuboid row passes the final filter, so
                        # an IN-list would wrongly drop it
                        inst.derived_in_cache[key] = None
                        continue
                rows = (
                    lookup.filter(F.expr(conj))
                    .select(*pks)
                    .distinct()
                    .limit(DERIVED_IN_THRESHOLD + 1)
                    .collect()
                )
            except Exception:
                inst.derived_in_cache[key] = None
                continue
            if len(rows) > DERIVED_IN_THRESHOLD:
                inst.derived_in_cache[key] = None
                continue
            # a NULL pk component never equi-joins, so such rows can't
            # contribute a matching fk — excluding them is sound
            vals = [tuple(r) for r in rows if all(v is not None for v in r)]
            inst.derived_in_cache[key] = vals
            df = _apply(df, fks, vals)
    return df


def apply_derived_joins(df: DataFrame, route: Route, inst: CubeInstance, spark) -> DataFrame:
    """Derived-dimension recovery: broadcast-join the build-time snapshot
    back on host FKs (snapshot, not live view: the cube's answers must be
    consistent with the rows it was built from). Shared by the routed
    layout scan and the hybrid realization's realtime tail — the tail
    carries the same host FKs, so the same recovery applies."""
    for lk in route.derived:
        lookup = inst.lookup_df(spark, lk.table)
        cond = None
        for fk, pk in zip(lk.join.foreign_key, lk.join.primary_key):
            c = df[fk] == lookup[pk]
            cond = c if cond is None else (cond & c)
        # Honor the model's declared join type: a LEFT lookup must keep
        # cuboid rows whose FK has no snapshot match (orphan / NULL FK) —
        # an inner recovery join would silently drop those groups.
        how = "left" if lk.join.join_type == "left" else "inner"
        df = df.join(F.broadcast(lookup), cond, how)
    return df


def _typed_segment_values(dtype, values: list[str]) -> list:
    """Segment-dir strings converted to the layout's partition ``dtype``
    (DateType/TimestampType dirs read back typed), so partition
    predicates stay metadata-prunable. Unconvertible values fall back to
    the raw string — the comparison then degrades to a row filter, which
    is still correct."""
    from pyspark.sql.types import DateType, TimestampType

    out: list = []
    for v in values:
        try:
            if isinstance(dtype, DateType):
                out.append(_dt.date.fromisoformat(v))
            elif isinstance(dtype, TimestampType):
                out.append(_dt.datetime.fromisoformat(v))
            else:
                out.append(v)
        except ValueError:
            out.append(v)
    return out


def routed_layout_scan(
    digest: SqlDigest, inst: CubeInstance, route: Route, spark
) -> DataFrame:
    """The routed scan WITHOUT the aggregation tail: pruned layout read,
    derived recovery, query filter, grouping expressions. Shared by
    execute_route and the hybrid realization (which needs the filtered
    layout rows — e.g. stored bitmap word-bags — as MERGE PARTIALS rather
    than finalized aggregates). A route marked ``one_partition`` reads the
    layout as one partition."""
    digest = rewrite_time_grains(digest, inst)
    df = inst.layout_df(spark, route.cuboid)
    # column presence and types come from the recorded layout schema, not
    # from df.columns/df.schema (each of those is a JVM round trip)
    schema = inst.layout_schemas[route.cuboid.cuboid_id]
    cols = set(schema.fieldNames())
    # segment pruning first: these predicates hit the partition column, so
    # Catalyst turns them into PartitionFilters (no data read outside range)
    for pred in route.segment_filters:
        df = df.filter(F.expr(pred))
    if route.segment_reject:
        # dimension-range pruning (SegmentPruner parity): drop segments
        # whose recorded per-dim [min,max] provably cannot satisfy the
        # filter. The literals are converted to the partition column's
        # INFERRED type (parquet partition dirs read back as date/int/...)
        # rather than casting the column — a cast on the partition
        # attribute would block metadata-level dir pruning and demote this
        # to a post-scan row filter.
        df = df.filter(
            ~F.col(SEGMENT_COL).isin(
                _typed_segment_values(
                    schema[SEGMENT_COL].dataType, route.segment_reject
                )
            )
        )
    if SEGMENT_COL in cols:
        df = df.drop(SEGMENT_COL)
    if route.shard_eq is not None and SHARD_COL in cols:
        # shard-dir pruning: compute the literal's shard id with the SAME
        # hash/type the write used (Spark's Murmur3 must not be
        # reimplemented driver-side). Over a one-row inline table the
        # optimizer folds the expression to a local relation, so no Spark
        # job runs; memoized per literal all the same
        col_name, lit_sql = route.shard_eq
        ck = (col_name, lit_sql, inst.desc.shard_buckets)
        k = inst.shard_probe_cache.get(ck)
        if k is None:
            k = (
                spark.sql("VALUES (0)")
                .select(
                    F.pmod(
                        F.hash(F.expr(lit_sql).cast(schema[col_name].dataType)),
                        F.lit(inst.desc.shard_buckets),
                    ).alias("k")
                )
                .first()["k"]
            )
            inst.shard_probe_cache[ck] = k
        df = df.filter(F.col(SHARD_COL) == k)
    if SHARD_COL in cols:
        df = df.drop(SHARD_COL)

    # derived-filter translate FIRST (DerivedProcess parity): conjuncts on
    # lookup columns become host-FK IN-lists pushed into the layout scan, so
    # Parquet row-group stats can skip data before the recovery join runs
    if route.derived and digest.filter_sql:
        df = _derived_prefilter(df, digest, route, inst, spark)

    df = apply_derived_joins(df, route, inst, spark)

    if digest.filter_sql:
        df = df.filter(F.expr(digest.filter_sql))

    # grouping expressions (group by month(d), ...) evaluated over the
    # layout's dim values — the synthesized __g columns then flow through
    # the ordinary groupBy/projection paths below
    for gname, (gsql, _bases) in digest.group_exprs.items():
        df = df.withColumn(gname, F.expr(gsql))
    if route.one_partition:
        # SinglePartition satisfies every distribution an aggregation above
        # asks for, so no Exchange is planned: one stage, one job
        df = df.coalesce(1)
    return df


def execute_route(
    digest: SqlDigest, inst: CubeInstance, route: Route, spark, scan=None
) -> DataFrame:
    digest = rewrite_time_grains(digest, inst)
    # `scan` lets a caller that ALSO needs the raw routed rows (the hybrid
    # realization's bag pipelines) share one scan definition instead of
    # re-deriving the pruned+filtered+recovered frame
    df = scan if scan is not None else routed_layout_scan(digest, inst, route, spark)

    out_cols: list[Column] = []
    if route.topn is not None:
        # Stored-TopN rewrite: explode the layout row's array<struct<key,val>>
        # — reads k entries per group instead of every rank-dimension row
        # (TableScanPlan.scala:112-174 inline() parity).
        alias, mname, rank = route.topn
        g = [c for c in digest.group_cols if c != rank]
        exploded = df.select(*g, F.explode(mname).alias("__t")).select(
            *g,
            F.col("__t.key").alias(rank),
            F.col("__t.val").alias(alias),
        )
        if route.topn_approx:
            # multi-segment merge (opt-in, declared approximate): several
            # stored lists survive per group — re-sum per rank key before
            # the ORDER BY/LIMIT tail re-ranks. Error bound: a key missing
            # from one list loses at most that list's minimum entry
            # (TopNMeasureType.java:261-330 declares sum-merge approximate).
            exploded = exploded.groupBy(*g, rank).agg(F.sum(alias).alias(alias))
        result = exploded.select(
            *[
                F.col(item.group_col).alias(item.name)
                if item.group_col is not None
                else F.col(item.name)
                for item in digest.select
            ]
        )
    elif route.exact:
        # Exact cuboid hit => project-only plan (the architecture's core
        # speedup claim — zero aggregation at query time).
        for item in digest.select:
            if item.group_col is not None:
                out_cols.append(F.col(item.group_col).alias(item.name))
            elif item.name in route.dim_served:
                # exact hit + dim-served MIN/MAX: the column is a group key,
                # so its per-group min/max IS the value itself
                out_cols.append(F.col(route.dim_served[item.name]).alias(item.name))
            else:
                m = _measure_for(item.agg, inst)
                out_cols.append(F.col(m.name).alias(item.name))
        result = df.select(*out_cols)
    else:
        # plain outputs in select order: (name, MERGE-family func, stored
        # column — a (SUM, COUNT) pair for AVG) when the output re-merges
        # from per-row partials, else (name, None, its one-level column)
        plain: list[tuple] = []
        # word-bag COUNT DISTINCT outputs: (name, bag column, cohort
        # condition or None) — plain distinct first, then cohort-filtered
        distinct_bags: list[tuple] = []
        cond_bags: list[tuple] = []
        # INTERSECT bags, each counted per grouping set on that set's keys
        # by its own pipeline: (output name, counts(keys) -> frame, value of
        # a group with no bag — an empty intersection counts 0, an empty
        # INTERSECT_VALUE renders "" per valueResult's empty-result contract)
        intersect_bags: list[tuple] = []
        value_bags: list[tuple] = []
        # AVG output -> its decimal type (see avg_type); absent otherwise
        avg_types: dict = {}
        schema = inst.layout_schemas[route.cuboid.cuboid_id]
        for item in digest.select:
            if item.group_col is not None or item.grouping_of is not None:
                continue
            agg = item.agg
            if item.name in route.bitmap_cond:
                # cohort-filtered bags: cond references layout/derived columns
                mname, cond = route.bitmap_cond[item.name]
                cond_bags.append((item.name, mname, cond))
            elif item.name in route.bitmap_intersect:
                mname, fcol, vals = route.bitmap_intersect[item.name]
                counts = partial(
                    GD.bitmap_intersect_count, df, name=mname, filter_col=fcol,
                    values_sql=list(vals), alias=item.name,
                )
                intersect_bags.append((item.name, counts, 0))
            elif item.name in route.bitmap_intersect_value:
                # surviving bits decode back to values through the global
                # dictionary the bitmap measure was encoded with
                mname, fcol, vals = route.bitmap_intersect_value[item.name]
                m = next(m for m in inst.desc.measures if m.name == mname)
                counts = partial(
                    GD.bitmap_intersect_value, df, name=mname, filter_col=fcol,
                    values_sql=list(vals), alias=item.name,
                    dictionary=inst.dict_df(spark, m.function.parameter),
                )
                value_bags.append((item.name, counts, ""))
            elif agg.distinct:
                if agg.columns:
                    # multi-column distinct over layout rows (SQL semantics:
                    # rows with any NULL column excluded — Spark's native
                    # count_distinct over several columns does exactly that)
                    col = F.count_distinct(*[F.col(c) for c in agg.columns])
                    plain.append((item.name, None, col))
                elif item.name in route.bitmap_distinct:
                    distinct_bags.append((item.name, route.bitmap_distinct[item.name], None))
                elif item.name in route.approx_distinct:
                    col = F.hll_sketch_estimate(
                        F.hll_union_agg(route.approx_distinct[item.name])
                    )
                    plain.append((item.name, None, col))
                else:
                    plain.append((item.name, None, F.countDistinct(agg.column)))
            elif agg.func == "PERCENTILE":
                _, _, quantile = percentile_sketch(agg.column, inst)
                plain.append((item.name, None, quantile(agg.q)))
            elif agg.func == "AVG":
                s = _measure_for(AggCall("SUM", agg.column, False, "", agg.expr_sql), inst)
                c = _measure_for(AggCall("COUNT", agg.column, False, "", agg.expr_sql), inst)
                plain.append((item.name, "AVG", (s.name, c.name)))
                t = avg_type(inst, spark, agg, schema)
                if t is not None:
                    avg_types[item.name] = t
            elif item.name in route.dim_served:
                # dimension-as-measure: min/max straight over the layout's
                # dim values (no stored measure involved)
                plain.append((item.name, agg.func, route.dim_served[item.name]))
            else:
                plain.append((item.name, agg.func, _measure_for(agg, inst).name))
        word_bags = distinct_bags + cond_bags
        # one bag column beside only MERGE-family outputs: each set is ONE
        # two-level aggregation of the scan (fold_word_bags) — no dims-only
        # branch, second layout read or join
        fold = (
            len({mname for _, mname, _ in word_bags}) == 1
            and not intersect_bags
            and not value_bags
            and all(func is not None for _, func, _ in plain)
        )
        if fold:
            agg_cols, bag_counts = [], []
        else:
            agg_cols = [
                (
                    col if func is None
                    else merge_column(func, col, schema, avg_types.get(name))
                ).alias(name)
                for name, func, col in plain
            ]
            bag_counts = [
                (
                    name,
                    partial(
                        GD.bitmap_count,
                        df if cond is None else df.filter(F.expr(cond)),
                        name=mname,
                        alias=name,
                    ),
                    0,
                )
                for name, mname, cond in word_bags
            ] + intersect_bags + value_bags

        # One aggregation per grouping set, unioned back (a plain GROUP BY
        # is the one-set case): AggregateMultipleExpandRule.java:45-120
        # parity. Every set re-aggregates the SAME layout scan, so Spark
        # shares its exchange across the union branches, and bag counts
        # re-OR per set (bit_or idempotence keeps a coarser set exact).
        sets = (
            digest.grouping_sets
            if digest.grouping_sets is not None
            else [digest.group_cols]
        )
        types: dict = {}
        branches = []
        for gset in sets:
            keys = list(gset)
            if fold:
                branch = fold_word_bags(df, keys, word_bags, plain, schema, avg_types)
            elif agg_cols:
                branch = df.groupBy(*keys).agg(*agg_cols)
            elif keys or not bag_counts:
                # SELECT DISTINCT / group-cols-only output: GroupedData.agg()
                # rejects an empty list — dedup over the set's keys instead
                # (still honors group cols absent from the select list)
                branch = df.select(*keys).dropDuplicates()
            else:
                branch = None  # global set whose only aggs are bag-served
            for name, counts, empty in bag_counts:
                frame = counts(keys)
                if route.one_partition:
                    # both join sides are one partition, so a shuffled
                    # join needs no exchange, where a broadcast of the
                    # counts would run as its own job
                    frame = frame.hint("shuffle_hash")
                branch = join_counts(branch, frame, keys, name, empty)
            branches.append(branch.select(*set_projection(digest, gset, df, types)))
        result = branches[0]
        for b in branches[1:]:
            result = result.unionAll(b)

    return apply_post_aggregation(digest, result)


def merge_column(
    func: str, col, schema: StructType, avg_type: DecimalType | None = None
) -> Column:
    """One-level re-aggregate of a MERGE-family output over its stored
    column (an AVG's ``col`` is its (SUM, COUNT) measure pair) of a layout
    whose schema is ``schema``.

    A SUM, or an AVG's SUM half, re-merges with ``measures.sum_merge``:
    over a stored ``double`` column the partials are summed EXACTLY and
    rounded once, so the answer is the correctly rounded sum of the
    partials (``math.fsum``), the same for any scan order, partition count
    or segment layout, and stays ``double``. That holds when every partial
    is finite, below 2**62 in magnitude and a whole multiple of 2**-62
    (every partial of 2**-10 or more in magnitude is one); a NaN, an
    infinity, a partial of 2**62 or more, a partial with bits below 2**-62
    (such as 1e-20), or a running sum past about 2.1e19, gives the
    scan-order ``sum`` instead, so NaN and infinity keep Spark's
    semantics. Integer and long SUMs keep the plain ``sum`` and its type;
    a decimal SUM is cast back to its stored type, which is pushdown's
    SUM type. An AVG whose ``avg_type`` is given (see :func:`avg_type`)
    divides as Spark's decimal ``Average`` does."""
    if func == "AVG":
        return divide_avg(merge_column("SUM", col[0], schema), F.sum(col[1]), avg_type)
    if func == "SUM":
        t = schema[col].dataType
        merged = M.sum_merge(col, schema)
        return merged.cast(t) if isinstance(t, DecimalType) else merged
    merged = MERGE[func](col)
    # COUNT re-agg is SUM of stored counts
    return merged.cast("long") if func == "COUNT" else merged


#: the type Spark's ``Average`` divides a decimal sum by its count in
_AVG_COUNT = DecimalType(20, 0)


def divide_avg(total: Column, count: Column, avg_type: DecimalType | None) -> Column:
    """An AVG from its merged SUM and COUNT: ``total / count``, or for a
    decimal ``avg_type`` the value Spark's ``Average`` gives, the quotient
    of the sum by the count as ``decimal(20, 0)``, rounded half up to
    ``avg_type``.

    Spark types a decimal quotient in at most 38 digits, so ``total /
    count`` of a wide sum keeps fewer decimals than ``avg_type`` asks
    (over a ``decimal(30, 4)`` source, 6 of 8) and would round twice. The
    quotient is therefore split at the remainder ``r = total % count``:
    the whole part ``(total - r) / count`` is an integer, and the fraction
    ``r / count`` keeps 18 decimals, since ``|r| < count``. Both share the
    sign of the sum, so rounding the fraction rounds the quotient. Exact
    for a source ``decimal(p, s)`` with p <= 33 and s <= 14."""
    if avg_type is None:
        return total / count
    n = count.cast(_AVG_COUNT)
    r = total % n
    return (((total - r) / n).cast(avg_type) + (r / n).cast(avg_type)).cast(avg_type)


def avg_type(
    inst: CubeInstance, spark, agg: AggCall, schema: StructType
) -> DecimalType | None:
    """The type of the routed AVG call ``agg`` over a layout whose schema
    is ``schema``: None (``sum / count``) unless its stored SUM is decimal,
    else Spark's AVG type over the source ``decimal(p, s)`` column,
    ``decimal(p + 4, s + 4)`` (``Average.resultType``). ``p`` is the source
    column's, read from the model's flat table: the stored precision
    ``p + 10`` is capped at 38."""
    total = _measure_for(AggCall("SUM", agg.column, False, "", agg.expr_sql), inst)
    if not isinstance(schema[total.name].dataType, DecimalType):
        return None
    src = inst.source_type(spark, total.function.parameter)
    return DecimalType(min(38, src.precision + 4), min(38, src.scale + 4))


def fold_word_bags(
    df: DataFrame,
    keys: list,
    bags: list,
    plain: list,
    schema: StructType,
    avg_types: dict | None = None,
) -> DataFrame:
    """One grouping set whose bag outputs all read ONE word-bag column,
    beside only MERGE-family outputs, as one two-level aggregation of the
    routed scan ``df`` (PreciseCountDistinct.scala parity: the stored
    bitmaps re-merge inside the re-aggregation itself).

    ``posexplode_outer`` gives a layout row one row per bag word, or one
    row with a NULL position when its bag is empty or NULL, so every group
    of the scan survives. Level 1 groups by (keys, word bucket): one
    ``bit_or`` per bag output, with any cohort condition inside it, and
    each plain partial taken from a layout row's first word only, so the
    row's measures count once. Level 2 groups by keys: the sum of
    ``bit_count`` (0 for a group with no word) and the same merge over the
    partials. A double SUM (an AVG's SUM half too) carries the exact-sum
    state of :func:`merge_column` through both levels, so it gives the
    join path's value. A decimal SUM widens at each level, so it is cast
    back to its stored type, as :func:`merge_column` does, and an AVG
    named in ``avg_types`` divides as there; every other output keeps its
    one-level type already.

    Each aggregate is one parsed SQL expression: the same trees spelled
    with the Column API cost several times the py4j round trips
    (``hist_reagg`` makes the same trade)."""
    rows = df.selectExpr("*", f"posexplode_outer({M.quote_ident(bags[0][1])}) AS (__pos, __w)")
    level1, level2 = [], []
    for i, (name, _, cond) in enumerate(bags):
        word = "__w.__mask" if cond is None else f"CASE WHEN ({cond}) THEN __w.__mask END"
        level1.append(f"bit_or({word}) AS __b{i}")
        level2.append(F.expr(f"coalesce(sum(bit_count(__b{i})), 0) AS {M.quote_ident(name)}"))
    first_word = "__pos IS NULL OR __pos = 0"
    for i, (name, func, col) in enumerate(plain):
        stored = col if func == "AVG" else (col,)
        merges = []
        for j, c in enumerate(stored):
            x, p = f"CASE WHEN {first_word} THEN {M.quote_ident(c)} END", f"__p{i}_{j}"
            if j == 0 and func in ("SUM", "AVG") and M.is_exact_sum(c, schema):
                # the exact SUM's state re-merges at level 2, so the fold
                # gives the join path's value
                state = M.exact_sum_state(x)
                level1 += [f"{e} AS {p}_{k}" for k, e in enumerate(state)]
                merges.append(M.exact_sum_final(
                    M.exact_sum_remerge([f"{p}_{k}" for k in range(len(state))])
                ))
            else:
                fn = func.lower() if func in ("MIN", "MAX") else "sum"
                level1.append(f"{fn}({x}) AS {p}")
                merges.append(f"{fn}({p})")
        merged = merges[0]
        t = schema[stored[0]].dataType if func in ("SUM", "AVG") else None
        if isinstance(t, DecimalType):
            merged = f"CAST({merged} AS {t.simpleString()})"
        if func == "COUNT":
            merged = f"CAST({merged} AS BIGINT)"
        elif func == "AVG" and name in (avg_types or {}):
            total, count = F.expr(merged), F.expr(merges[1])
            level2.append(divide_avg(total, count, avg_types[name]).alias(name))
            continue
        elif func == "AVG":
            merged = f"{merged} / {merges[1]}"
        level2.append(F.expr(f"{merged} AS {M.quote_ident(name)}"))
    words = rows.groupBy(*keys, F.expr("__w.__bkt AS __bkt")).agg(*map(F.expr, level1))
    return words.groupBy(*keys).agg(*level2)


def join_counts(branch, counts: DataFrame, keys: list, name: str, empty) -> DataFrame:
    """Attach one per-set count frame to the set's branch: a NULL-safe left
    join on the set's keys (a NULL-keyed group must recover its count), or
    the counts themselves when the set has no other aggregate yet. A group
    the counts miss takes ``empty`` (0 as a long, or ""); ``empty=None``
    keeps it NULL, like a percentile over zero rows."""
    if branch is None:
        branch = counts
    else:
        branch = join_null_safe(branch, counts, keys, "left")
    if empty is None:
        return branch
    filled = F.coalesce(F.col(name), F.lit(empty))
    return branch.withColumn(name, filled.cast("long") if empty == 0 else filled)


def set_projection(
    digest: SqlDigest, gset, scan: DataFrame, types: dict, avg_parts=None
) -> list[Column]:
    """Output columns of one grouping set's branch, in select order and
    under the query's output names (a bare item.name lookup breaks on
    ``SELECT col AS c ... GROUP BY col``). A group column the set
    aggregates away becomes a NULL of its scanned type, read from ``scan``
    into the caller's ``types`` memo only when some set first needs it (a
    plain GROUP BY never does); GROUPING(col) is a per-set literal, 0 when
    grouped and 1 when aggregated away (AggregatePlan.scala:169-174).
    ``avg_parts`` maps an AVG output to its Column over the merged SUM and
    COUNT partials (see :func:`divide_avg`)."""
    out = []
    for item in digest.select:
        if item.group_col is not None and item.group_col in gset:
            out.append(F.col(item.group_col).alias(item.name))
        elif item.group_col is not None:
            if not types:
                types.update(scan.dtypes)
            out.append(F.lit(None).cast(types[item.group_col]).alias(item.name))
        elif item.grouping_of is not None:
            grouped = 0 if item.grouping_of in gset else 1
            out.append(F.lit(grouped).cast("tinyint").alias(item.name))
        elif avg_parts and item.name in avg_parts:
            out.append(avg_parts[item.name].alias(item.name))
        else:
            out.append(F.col(item.name))
    return out


def apply_post_aggregation(digest: SqlDigest, result: DataFrame) -> DataFrame:
    """The shared post-aggregation tail: HAVING, hidden-column drop, window
    replay, sort, limit — applied above an already-served aggregate (plain
    cuboid route or hybrid batch+realtime merge)."""
    if digest.having_sql is not None:
        result = result.filter(F.expr(digest.having_sql))
    if digest.hidden:
        result = result.drop(*digest.hidden)  # HAVING-only aggregates
    # Window functions replayed ABOVE the routed aggregate (OLAPWindowRel
    # parity — reference executes window calls over the cube-served rows,
    # OLAPWindowRel.java): each Window node's calls appended innermost
    # first, then the scalar projection layers (which also drop hidden
    # `_w0`-style ordering aggregates from the final output).
    for grp in digest.window_exprs:
        result = result.selectExpr(
            "*", *[f"{sql} AS `{name}`" for name, sql in grp]
        )
    for layer in digest.window_projects:
        result = result.selectExpr(*[f"{sql} AS `{name}`" for name, sql in layer])
    if digest.sort:
        from kylin_on_parquet_v2_spark.query.digest import sort_columns

        result = result.orderBy(*sort_columns(digest.sort))
    if digest.limit is not None:
        result = result.limit(digest.limit)
    return result
