"""Measure compilation: build-side partial aggregates and query-side
re-aggregates, per measure type.

Reference parity:
- build aggregation: ``kylin-spark-engine/.../job/CuboidAggregator.scala:40-133``
  (COUNT re-agg of a child layout becomes SUM :86-91; decimal re-cast
  :125-132).
- COUNT_DISTINCT bitmap (``udaf/PreciseCountDistinct.scala``) + global
  dictionary (``NGlobalDictionaryV2.java``): we deliberately do NOT rebuild
  the dictionary+roaring machinery. Exact re-aggregatable distinct is served
  the Spark-native way: the distinct column is a cube dimension, and any
  covering cuboid answers ``countDistinct(col)`` exactly (the reference's own
  DimCountDistinct measure, ``measure/dim/DimCountDistinctMeasureType.java``).
- COUNT_DISTINCT hllc(p) (``udaf/ApproxCountDistinct.scala:33-196``): mapped
  to Spark's Datasketches HLL (``hll_sketch_agg`` / ``hll_union_agg`` /
  ``hll_sketch_estimate``) — a true re-aggregatable sketch column, like the
  reference's binary HLL counters.
- TOP_N (``TopNUDAF.scala:28-100``, rewrite ``TopNMeasureType.java:411-441``):
  stored as a sorted ``array<struct<key,val>>`` per group; re-aggregation
  explodes + re-sums (approximate beyond exact match, same boundary the
  reference declares in its capability check :261-330).
- PERCENTILE_APPROX (``SparderAggFun.scala:39-180``): no union-able percentile
  sketch is exposed in PySpark, so percentile measures are exact-match-only in
  cuboids; the router falls back to the flat path otherwise (the reference's
  capability machinery exists for exactly this reason).
- EXTENDED_COLUMN (``ExtendedColumnMeasureType.java:82-130``): ``first(col)``.
- RAW (``RawMeasureType.java:48-200``): ``collect_list``; detail queries route
  to the flat table instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, StructType

from kylin_on_parquet_v2_spark.metadata.cube import FunctionDesc, MeasureDesc


@dataclass(frozen=True)
class MeasureType:
    """A user-pluggable measure type (reference MeasureTypeFactory.java:
    121-135, ``kylin.cube.measure.customMeasureType.*`` — each registered
    type contributes its aggregators to build and query).

    ``build_agg(func, out_name, schema)`` -> partial-aggregate Column for the
    flat->cuboid build; ``reagg(func, out_name, schema)`` -> re-aggregate
    Column over layout rows (must be algebraically exact — it also runs for
    child layouts and segment merges); ``finalize(func, col)`` -> SQL-surface
    value of the stored column.
    """

    name: str
    build_agg: Callable[[FunctionDesc, str, StructType | None], Column | None]
    reagg: Callable[[FunctionDesc, str, StructType | None], Column | None]
    finalize: Callable[[FunctionDesc, Column], Column] = staticmethod(lambda f, c: c)


_MEASURE_TYPES: dict[str, MeasureType] = {}


def register_measure_type(mt: MeasureType) -> None:
    """Register a custom measure type under its FunctionDesc expression
    name. Re-registering replaces (latest wins, like config overrides)."""
    _MEASURE_TYPES[mt.name.upper()] = mt


def registered_measure_type(name: str) -> MeasureType | None:
    return _MEASURE_TYPES.get(name.upper())


def _hll_lgk(func: FunctionDesc) -> int:
    # returntype 'hllc(p)' — map Kylin HLL precision p to Datasketches lgK.
    rt = func.returntype or ""
    if rt.startswith("hllc(") and rt.endswith(")"):
        try:
            return max(4, min(21, int(rt[5:-1])))
        except ValueError:
            pass
    return 12


def hist_spec(func: FunctionDesc) -> tuple[int, float, float] | None:
    """Parse a mergeable-histogram percentile returntype ``hist(bins,lo,hi)``.

    The reference stores a t-digest (PercentileCounter); PySpark exposes no
    union-able digest, so our re-aggregatable percentile state is a
    fixed-bin equi-width histogram over DECLARED bounds — deterministic
    (oracle-replayable) and exactly mergeable (bin-wise sum). Accuracy is
    (hi-lo)/bins, declared up front like the reference declares digest
    compression."""
    rt = func.returntype or ""
    if rt.startswith("hist(") and rt.endswith(")"):
        try:
            bins, lo, hi = rt[5:-1].split(",")
            return int(bins), float(lo), float(hi)
        except ValueError:
            pass
    return None


def hist_build(func: FunctionDesc, name: str) -> Column:
    """array<long> of per-bin counts; values clamp into the edge bins.

    Built as ONE parsed SQL expression (r14, guide §5: the driver should do
    almost no query-path work): the former per-bin listcomp of
    ``F.sum(F.when(b == i, 1).otherwise(0)).cast("long")`` Columns cost
    ~6 py4j round trips per bin — ~600 per call at bins=100 — and this
    function runs once per layout at build time AND once per hybrid tail at
    query time. The parsed tree is the same expression (double literals via
    the ``D`` suffix, same int-literal comparisons, same clamp), so every
    bin count is bit-identical; pinned by
    tests/test_r14_optimizations.py::test_hist_exprs_match_column_form."""
    import math

    bins, lo, hi = hist_spec(func)
    w = (hi - lo) / bins
    if not (math.isfinite(lo) and math.isfinite(w)) or w == 0.0:
        # repr() of inf/nan has no SQL double-literal spelling, and a
        # zero-width bin is a degenerate declaration either way — fail
        # with the reason instead of a ParseException (r14 review)
        raise ValueError(
            f"hist bounds must be finite with non-zero width: {func.returntype}"
        )
    col = func.parameter.replace("`", "``")  # Spark's quoteIdentifier
    b = (
        f"least(greatest(floor((`{col}` - {float(lo)!r}D)"
        f" / {float(w)!r}D), 0), {bins - 1})"
    )
    cells = ",".join(
        f"cast(sum(case when {b} = {i} then 1 else 0 end) as bigint)"
        for i in range(bins)
    )
    return F.expr(f"array({cells})").alias(name)


def hist_reagg(func: FunctionDesc, name: str) -> Column:
    """Bin-wise sum of layout histograms — exact merge, STREAMING: one
    built-in SUM aggregate per bin (bins are a static declaration), so the
    aggregation buffer is `bins` longs per group and partial map-side
    aggregation applies. The earlier collect_list-then-fold spelling held
    every child histogram in one buffer — O(child rows × bins) per group,
    the same unbounded-buffer shape the two-phase KLL build removes.

    One parsed SQL expression for the same reason as :func:`hist_build`
    (r14): the per-bin ``F.coalesce(F.sum(F.col(name)[i]), lit 0L)``
    listcomp was ~0.6 s of pure py4j/driver time per call — once per
    cuboid in the lattice build (the measured 0.79 s/cuboid plan
    constant was mostly THIS) and once per percentile-serving routed
    query. Identical expression tree, bit-identical merges."""
    bins, _lo, _hi = hist_spec(func)
    col = name.replace("`", "``")  # Spark's quoteIdentifier
    cells = ",".join(
        f"coalesce(sum(`{col}`[{i}]), cast(0 as bigint))" for i in range(bins)
    )
    return F.expr(f"array({cells})").alias(name)


def hist_percentile(func: FunctionDesc, col: Column, q: float) -> Column:
    """Percentile-q from a histogram column: first bin where the cumulative
    count reaches q * total, reported at the bin midpoint. Pure expressions
    (O(bins^2) adds — metadata-sized), deterministic on every engine."""
    bins, lo, hi = hist_spec(func)
    w = (hi - lo) / bins
    total = F.aggregate(col, F.lit(0).cast("long"), lambda a, c: a + c)
    cums = F.transform(
        F.sequence(F.lit(1), F.lit(bins)),
        lambda i: F.struct(
            i.alias("i"),
            F.aggregate(F.slice(col, F.lit(1), i), F.lit(0).cast("long"), lambda a, c: a + c).alias("cum"),
        ),
    )
    target = (F.lit(q) * total.cast("double"))
    first = F.element_at(F.filter(cums, lambda s: s["cum"].cast("double") >= target), 1)
    return F.lit(lo) + (first["i"].cast("double") - F.lit(0.5)) * F.lit(w)


#: partials on a grid of 2**-62 and below 2**62 in magnitude sum exactly
_EXACT_SUM_SCALE = 2**62
_SCALE_SQL = f"{float(_EXACT_SUM_SCALE)!r}D"
_NAN_SQL = "CAST('NaN' AS DOUBLE)"


def quote_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier (Spark's quoteIdentifier)."""
    return "`" + name.replace("`", "``") + "`"


def exact_sum_state(x: str) -> list[str]:
    """The three aggregates of an exact double SUM over the SQL expression
    ``x`` (stored or partial sums): a range guard, the plain ``sum(x)``,
    and the ``try_sum`` of x times 2**62 as a DECIMAL(38,0) integer.

    The guard is ``max(abs(x))``, or NaN for a partial below 2**-10 in
    magnitude with bits below 2**-62 (``x * 2**62`` not a whole number;
    every larger partial lies on that grid). For a partial that passes it,
    the scaled value is exact: x's integer part (``x`` truncated toward
    zero) times 2**62, plus its fraction (``x`` minus the integer part)
    times 2**62, a whole number below 2**62. A NaN, an infinity or a
    partial of 2**63 or more gives NULL there, which the guard covers.
    The decimal sum turns NULL once it passes DECIMAL(38,0), a running
    sum of about 2.1e19 in magnitude."""
    whole = f"try_cast({x} AS BIGINT)"
    return [
        f"max(CASE WHEN abs({x}) < {2.0**-10!r}D AND {x} * {_SCALE_SQL} % 1D <> 0D"
        f" THEN {_NAN_SQL} ELSE abs({x}) END)",
        f"sum({x})",
        f"try_sum(CAST({whole} AS DECIMAL(38,0)) * {_EXACT_SUM_SCALE}BD"
        f" + CAST(({x} - {whole}) * {_SCALE_SQL} AS BIGINT))",
    ]


def exact_sum_remerge(state: list[str]) -> list[str]:
    """The same three aggregates one level up, over the columns ``state``
    of an aggregated :func:`exact_sum_state`. ``try_sum`` skips a NULL, so
    a decimal sum that turned NULL below (it overflowed, or each partial
    under it was one that the guard already rejects) sets the guard to
    NaN: a two-level plan gives what a one-level plan gives."""
    top, plain, scaled = state
    return [
        f"max(CASE WHEN {scaled} IS NULL AND {plain} IS NOT NULL THEN {_NAN_SQL} ELSE {top} END)",
        f"sum({plain})",
        f"try_sum({scaled})",
    ]


def exact_sum_final(state: list[str]) -> str:
    """SQL of the double an aggregated :func:`exact_sum_state` stands for.

    Exactness contract: when every partial is finite, below 2**62 in
    magnitude and a whole multiple of 2**-62 (every partial of 2**-10 or
    more in magnitude is one), the state holds the sum of the partials
    times 2**62 as one DECIMAL(38,0) integer, and the answer is that exact
    sum rounded ONCE to double: the correctly rounded sum of the partials
    (``math.fsum``), whatever their order, partition count or segment
    layout. Otherwise the answer is the plain ``sum`` in scan order: for a
    NaN, an infinity, a partial of 2**62 or more, a partial with bits
    below 2**-62 (such as 1e-20), and a running sum past DECIMAL(38,0)
    (about 2.1e19 in magnitude). No bit of a partial is dropped, and NaN
    and infinity keep Spark's semantics."""
    top, plain, scaled = state
    return (
        f"coalesce(CASE WHEN {top} < {_SCALE_SQL}"
        f" THEN CAST({scaled} AS DOUBLE) * {2.0**-62!r}D END, {plain})"
    )


def is_exact_sum(col: str, schema: StructType) -> bool:
    """Whether a SUM over the stored column ``col`` re-merges exactly
    (:func:`sum_merge`): the column is a ``double`` in the layout's
    ``schema``."""
    return col in schema.fieldNames() and isinstance(schema[col].dataType, DoubleType)


def sum_merge(col: str, schema: StructType) -> Column:
    """One-level re-merge of the SUM partials stored in ``col``: exact for
    a ``double`` column (the contract of :func:`exact_sum_final`), the
    plain ``sum`` and its type for any other."""
    if is_exact_sum(col, schema):
        return F.expr(exact_sum_final(exact_sum_state(quote_ident(col))))
    return F.sum(col)


def topn_k(func: FunctionDesc) -> int:
    rt = func.returntype or ""
    if rt.startswith("topn(") and rt.endswith(")"):
        try:
            return int(rt[5:-1].split(",")[0])
        except ValueError:
            pass
    return 100


def build_agg(measure: MeasureDesc, schema: StructType | None = None) -> Column | None:
    """Partial-aggregate Column for the flat-table -> cuboid build.

    Returns None for measures that are not materialized in layouts
    (exact COUNT_DISTINCT — answered from dimensions instead).
    """
    f = measure.function
    col, name = f.parameter, measure.name
    if f.expression == "COUNT":
        return F.count(F.lit(1) if col is None else F.col(col)).alias(name)
    if f.expression == "SUM":
        out = F.sum(col)
        # Decimal re-cast parity (CuboidAggregator.scala:125-132): pin the
        # declared precision instead of letting sum() widen per build layer.
        if schema is not None:
            dt = schema[col].dataType if col in schema.fieldNames() else None
            if isinstance(dt, DecimalType):
                out = out.cast(DecimalType(min(dt.precision + 10, 38), dt.scale))
        return out.alias(name)
    if f.expression == "MIN":
        return F.min(col).alias(name)
    if f.expression == "MAX":
        return F.max(col).alias(name)
    if f.expression == "COUNT_DISTINCT":
        if (f.returntype or "").startswith("hllc"):
            return F.hll_sketch_agg(F.col(col), F.lit(_hll_lgk(f))).alias(name)
        return None  # exact: served from a cuboid that carries `col` as a dim
    if f.expression == "TOP_N":
        # Needs its own groupBy over (dims + ranked dim) — assembled at the
        # cuboid level in CubeBuilder, not as a single agg Column.
        return None
    if f.expression == "PERCENTILE_APPROX":
        if hist_spec(f) is not None:
            return hist_build(f, name)  # mergeable histogram sketch
        from kylin_on_parquet_v2_spark.cube.kll import kll_spec

        if kll_spec(f) is not None:
            # Built two-phase at the cuboid level (kll.kll_build_two_phase)
            # so no single aggregation buffer ever holds a whole group —
            # same reason TOP_N returns None here.
            return None
        return None  # exact-match only otherwise
    if f.expression == "EXTENDED_COLUMN":
        return F.first(col, ignorenulls=True).alias(name)
    # RAW / COLLECT_SET per-group memory contract: these measures are
    # DEFINITIONALLY value-retaining (the reference's RAW stores every
    # group value too, RawMeasureType.java), so one aggregation buffer and
    # one stored layout cell hold O(group row count) values — unlike the
    # sketch measures there is no compressed partial to stream. They are
    # only sound on cubes whose base grain keeps groups small (the stored
    # list IS the payload, e.g. order line ids per day); DETAIL queries —
    # reconstruct the rows — belong on the flat/pushdown route, which is
    # the reference's answer as well (RAW routes to detail query there).
    # CubeBuilder warns at build time when the measured base grain is near
    # the fact grain (see _warn_value_retaining_grain).
    if f.expression == "RAW":
        return F.collect_list(col).alias(name)
    if f.expression == "COLLECT_SET":
        return F.collect_set(col).alias(name)
    mt = registered_measure_type(f.expression)
    if mt is not None:
        return mt.build_agg(f, name, schema)
    raise ValueError(f"unhandled measure {f.expression}")


def reagg_from_layout(measure: MeasureDesc, schema: StructType | None = None) -> Column | None:
    """Re-aggregate a stored layout column when the query groups by a strict
    subset of the cuboid's dims (or when merging child layouts).

    COUNT becomes SUM (CuboidAggregator.scala:86-91); sketches union. SUM
    over a decimal layout column re-casts to the stored type — otherwise
    each build layer widens precision again ((29,4) -> (38,4) -> ...), the
    exact creep CuboidAggregator.scala:125-132 exists to stop. SUM over a
    double layout column re-merges exactly (:func:`sum_merge`), so a child
    layout or a merged segment stores the exact sum of its parent's
    partials rounded once, whatever their scan order.
    """
    f = measure.function
    name = measure.name
    if f.expression == "COUNT":
        return F.sum(name).cast("long").alias(name)
    if f.expression == "SUM":
        if schema is None:
            return F.sum(name).alias(name)
        out = sum_merge(name, schema)
        if name in schema.fieldNames() and isinstance(schema[name].dataType, DecimalType):
            out = out.cast(schema[name].dataType)
        return out.alias(name)
    if f.expression == "MIN":
        return F.min(name).alias(name)
    if f.expression == "MAX":
        return F.max(name).alias(name)
    if f.expression == "COUNT_DISTINCT":
        if (f.returntype or "").startswith("hllc"):
            return F.hll_union_agg(name).alias(name)
        if (f.returntype or "") == "bitmap":
            # word-bag concatenation is an EXACT re-aggregation: bit_or at
            # finalize is associative, commutative and idempotent, so
            # duplicate words across merged bags never double-count
            # (PreciseCountDistinct.scala bitmap-union parity)
            return F.array_distinct(F.flatten(F.collect_list(name))).alias(name)
        return None
    if f.expression == "PERCENTILE_APPROX" and hist_spec(f) is not None:
        return hist_reagg(f, name)
    if f.expression == "PERCENTILE_APPROX":
        from kylin_on_parquet_v2_spark.cube.kll import kll_reagg, kll_spec

        if kll_spec(f) is not None:
            return kll_reagg(f, name)
    if f.expression == "EXTENDED_COLUMN":
        return F.first(name, ignorenulls=True).alias(name)
    if f.expression == "RAW":
        return F.flatten(F.collect_list(name)).alias(name)
    if f.expression == "COLLECT_SET":
        return F.array_distinct(F.flatten(F.collect_list(name))).alias(name)
    mt = registered_measure_type(f.expression)
    if mt is not None:
        return mt.reagg(f, name, schema)
    return None


def finalize(measure: MeasureDesc, col: Column | None = None) -> Column:
    """Turn a stored/re-aggregated measure column into its SQL-surface value
    (e.g. HLL sketch binary -> estimated count)."""
    f = measure.function
    c = col if col is not None else F.col(measure.name)
    if f.expression == "COUNT_DISTINCT" and (f.returntype or "").startswith("hllc"):
        return F.hll_sketch_estimate(c)
    mt = registered_measure_type(f.expression)
    if mt is not None:
        return mt.finalize(f, c)
    return c
