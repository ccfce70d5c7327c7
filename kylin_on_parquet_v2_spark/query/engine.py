"""OlapEngine — the user-facing facade.

Query lifecycle (collapses the reference's entry points A + B, SURVEY.md §3):
``engine.sql(q)`` analyzes the query with Catalyst, extracts a SqlDigest,
tries to route it onto a built cube layout, and otherwise answers it directly
with ``spark.sql`` (the reference's own pushdown path,
``kylin-spark-query/.../pushdown/SparkSqlClient.scala:41-76`` — semantically
the oracle inside the reference itself).

Routing is an accelerator only: ``engine.sql(q, validate=True)`` asserts the
routed answer equals the pushdown answer (the reference's dual-execution test
harness, ``NExecAndComp.java`` CompareLevel.SAME, built into the engine).
"""

from __future__ import annotations

import os
import tempfile
import threading
from collections import Counter, OrderedDict
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.cube.build import CubeBuilder, CubeInstance
from kylin_on_parquet_v2_spark.metadata.cube import CubeDesc
from kylin_on_parquet_v2_spark.metadata.model import DataModel
from kylin_on_parquet_v2_spark.query import router
from kylin_on_parquet_v2_spark.query.digest import (
    AggOverUnion,
    JoinOfAggregates,
    UnionOfAggregates,
    extract_agg_over_union,
    extract_digest,
    extract_join_digest,
    extract_union_digest,
    sort_columns,
)
from kylin_on_parquet_v2_spark.query.router import Route, execute_route, plan_route
from kylin_on_parquet_v2_spark.session import get_spark, register_views

#: the reason of a digestible query (or island) no registered cube serves
_NO_CUBE = "no cube can serve"


def _exc_reason(exc: Exception) -> str:
    """An exception as a one-line reason: its class and first line."""
    first = (str(exc).splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first}"[:200]


def _scan_line(route: Route, inst: CubeInstance) -> str:
    """The route's layout-scan decision, as ``explain()`` prints it."""
    rows = inst.layout_rows.get(route.cuboid.cuboid_id)
    bound = router.ONE_PARTITION_ROWS
    if route.one_partition:
        return f"scan: one partition (layout rows {rows} <= {bound})"
    if rows is None:
        return "scan: Spark's file splits (no recorded layout rows)"
    return f"scan: Spark's file splits (layout rows {rows} > {bound})"


@dataclass(frozen=True)
class Decision:
    """The routing decision of one ``sql()`` call — the reference records
    one realization per query context and keeps why it gave up on a cube
    (RealizationChooser.java:60-160). A fresh decision is served by
    ``OlapEngine._serve``, a memoized one by ``OlapEngine._replay``; both
    are applied by ``OlapEngine._record``.

    ``kind`` is one of:
    - ``routed``: one cuboid serves ``plan`` (a SqlDigest);
    - ``multi``: ``plan`` joins or set-combines aggregate islands, each
      routed on its own (one route per island);
    - ``pushdown``: digestible, but no cube serves it, or building its
      routed answer raised;
    - ``undigestible``: no digest and no routable multi-context shape;
    - ``bypass``: routing off or no cube registered — never counted or
      memoized.
    """

    kind: str
    plan: object = None
    routes: tuple[Route, ...] = ()
    #: ``routed`` and ``multi``: (cube name, lifecycle epoch) of every
    #: route's cube, read before the answer was built; a replay under any
    #: other epoch plans again
    epochs: tuple[tuple[str, int], ...] = ()
    #: non-hybrid ``routed`` and ``multi``: the answer's analyzed logical
    #: plan (a JVM ``LogicalPlan``, never the DataFrame or its
    #: QueryExecution, which would pin the first run's shuffle files). A
    #: replay runs a new Dataset over it: Spark optimizes it again and
    #: re-reads the files its listing names, which the epochs vouch for
    analyzed: object = field(default=None, compare=False)
    #: needed-column set fed to the cube-planner workload (``routed`` and
    #: ``pushdown``)
    workload_cols: frozenset | None = None
    #: why the query did not route; empty when it did
    reason: str = ""


class OlapEngine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        storage_dir: str | None = None,
        transformers: list | None = None,
        max_result_rows: int | None = None,
        query_timeout_sec: float | None = None,
        slow_query_sec: float | None = None,
        low_memory_alert_mb: int | None = None,
    ):
        from kylin_on_parquet_v2_spark.query.transformers import default_transformers
        from kylin_on_parquet_v2_spark.udafs import register_udafs

        self.spark = spark or get_spark()
        register_udafs(self.spark)
        self.storage_dir = storage_dir or os.path.join(
            tempfile.gettempdir(), "kylin_on_parquet_v2_spark"
        )
        self.models: dict[str, DataModel] = {}
        self.cubes: dict[str, CubeInstance] = {}
        #: cube name -> realtime streaming part: the cube is a HYBRID
        #: realization (HybridInstance parity) — batch layouts alone are
        #: INCOMPLETE for its table; see register_hybrid
        self.hybrids: dict = {}
        #: route taken by the last sql() call (None => pushdown); for tests
        #: and EXPLAIN-style introspection.
        self.last_route: Route | None = None
        #: all routes taken by the last sql() call — multi-context queries
        #: (join of aggregate islands) carry one per island
        self.last_routes: list[Route] = []
        #: the whole routing decision of the last sql() call, including the
        #: reason a query did not route
        self.last_decision: Decision | None = None
        #: SQL massage chain (QueryUtil.massageSql parity): applied in order
        #: before analysis; pass transformers=[] to disable.
        self.transformers = (
            list(transformers)
            if transformers is not None
            else default_transformers(max_result_rows)
        )
        #: bumped on every build/load/refresh/hybrid change; part of the
        #: route-memo key, so no decision outlives the cubes it was made on
        self._cache_epoch = 0
        self._memo_lock = threading.Lock()
        #: memoized routing DECISIONS (not results): massaged-SQL+flags+epoch
        #: -> what the planner decided last time. Real deployments register
        #: hundreds of cubes and dashboards repeat queries, so re-analyzing
        #: the SQL, re-scoring every cube and rebuilding the routed scan per
        #: call makes driver-side planning the hot path (round-6 verdict
        #: item 4). A routed or multi replay runs a new Dataset over the
        #: decision's frozen analyzed plan, while every route cube keeps
        #: the lifecycle epoch the plan was built under; Spark re-optimizes
        #: it and re-reads the files, so no rows are reused. Hybrid
        #: decisions rebuild their answer from the stored digest on every
        #: replay, so the realtime tail is read fresh. The key includes the
        #: cache epoch (bumped on every build/load/hybrid change).
        self._route_memo: "OrderedDict[tuple, Decision]" = OrderedDict()
        #: ``Dataset.ofRows`` bound once: a replay's only JVM call
        self._of_rows = None
        #: workload statistics for the cube planner (CuboidStats parity):
        #: needed-dim-set -> how many queries asked for it. Recorded for
        #: every digestible query, routed or not — the planner weighs
        #: candidate cuboids by real query frequency (PBPUS weighting).
        self.workload: Counter = Counter()
        #: query-serving metrics (the reference reports cuboid hit ratios
        #: through QueryMetrics/QueryMetricsFacade): how many queries took
        #: a cuboid route (and of those, exact project-only hits), fell
        #: back to pushdown, or were undigestible; plus per-cube hits.
        self.metrics: Counter = Counter()
        #: running-query registry + BadQueryDetector watchdog (reference
        #: ResultPlan.scala:89/115, BadQueryDetector.java:129-147):
        #: query_timeout_sec is the default wall-time KILL budget,
        #: slow_query_sec the report-only alert threshold (default: half
        #: the budget), low_memory_alert_mb the system-memory report floor
        #: — queries bracketed by tracked_query() are watched on all three.
        from kylin_on_parquet_v2_spark.query.lifecycle import QueryTracker

        self.tracker = QueryTracker(
            self.spark,
            query_timeout_sec,
            slow_threshold_sec=slow_query_sec,
            low_memory_alert_mb=low_memory_alert_mb,
        )

    #: routing-decision memo entries kept (LRU); decisions are tiny (a
    #: digest + a Route), the bound only guards pathological SQL churn
    ROUTE_MEMO_SIZE = 512

    # -- metadata / build ----------------------------------------------------

    def register_sources(self, sf_dir: str) -> dict[str, DataFrame]:
        return register_views(self.spark, sf_dir)

    def capabilities(self) -> dict:
        """Typed capability introspection (the reference exposes engine
        facts over REST — ``GET /api/...``; this is the library-call
        equivalent). A user discovers an environment limitation — e.g.
        the Kafka connector jar missing from the classpath — BEFORE
        wiring a stream against it, instead of at readStream time
        (r12 verdict item 7). Capabilities are probed live, not cached:
        adding a jar to a running session flips the flag."""
        from kylin_on_parquet_v2_spark.cube.measures import _MEASURE_TYPES
        from kylin_on_parquet_v2_spark.metadata.cube import (
            MEASURE_EXPRESSIONS,
            TIME_GRAINS,
        )
        from kylin_on_parquet_v2_spark.sources import readers

        kafka_ok = readers.kafka_available(self.spark)
        kafka: dict = {"available": kafka_ok}
        if not kafka_ok:
            kafka["blocked_by"] = (
                "spark-sql-kafka connector jar not on classpath"
            )
            kafka["fix"] = (
                "add org.apache.spark:spark-sql-kafka-0-10 to "
                "spark.jars.packages; the ingest pipeline "
                "(streaming/segments.py) is source-agnostic and works "
                "unchanged once the jar is present"
            )
        return {
            "sources": {
                "parquet": {"available": True},
                "orc": {"available": True},
                "csv": {"available": True},
                "json": {"available": True},
                "jdbc": {"available": True},
                "rate": {"available": True},  # built-in streaming source
                "kafka": kafka,
            },
            "time_grains": list(TIME_GRAINS),
            "measures": sorted(MEASURE_EXPRESSIONS | set(_MEASURE_TYPES)),
        }

    def add_model(self, model: DataModel) -> None:
        self.models[model.name] = model

    def build_cube(
        self, desc: CubeDesc, segment_range: tuple | None = None
    ) -> CubeInstance:
        model = self.models[desc.model_name]
        inst = CubeBuilder(self.spark, model, desc, self.storage_dir).build(
            segment_range=segment_range
        )
        self.cubes[desc.name] = inst
        # new data => every memoized decision is stale (the reference clears
        # its query cache on segment/cube state changes the same way)
        self._cache_epoch += 1
        self._route_memo.clear()
        return inst

    def load_cube(self, desc: CubeDesc, build_if_missing: bool = False) -> CubeInstance:
        """Reopen an already-built cube from its persisted metadata instead
        of re-cubing (CubeManager restart semantics: layouts + snapshots +
        dictionaries all live in the storage dir, so a new engine process
        serves routed queries immediately). With ``build_if_missing`` the
        call degrades to :meth:`build_cube` when no (or stale) meta exists."""
        model = self.models[desc.model_name]
        inst = CubeInstance.load(desc, model, self.storage_dir, self.spark)
        if inst is None:
            if build_if_missing:
                return self.build_cube(desc)
            raise FileNotFoundError(
                f"no usable cube_meta.json for '{desc.name}' under {self.storage_dir}"
            )
        self.cubes[desc.name] = inst
        self._cache_epoch += 1
        self._route_memo.clear()
        return inst

    def refresh_cube(self, name: str, segments: list[str] | None = None) -> list[str]:
        """Incrementally cube NEW source segments (reference per-segment
        build loop: detect new TSRanges -> segment cubing job -> auto-merge
        check). History is never re-cubed; dictionaries extend in place.
        Returns the segment values built ([] when nothing new landed)."""
        from kylin_on_parquet_v2_spark.cube.merge import apply_retention, maybe_auto_merge

        inst = self.cubes[name]
        model = self.models[inst.desc.model_name]
        built = CubeBuilder(self.spark, model, inst.desc, self.storage_dir).build_increment(
            inst, segments
        )
        if built:
            self._cache_epoch += 1
            self._route_memo.clear()
            maybe_auto_merge(self.spark, inst)
            # retention after merge (reference order: new segment READY ->
            # retired segments leave the queryable set)
            apply_retention(self.spark, inst)
            # clear AGAIN after merge/retention mutate the segment dirs and
            # dim_ranges: a concurrent query planned between the first clear
            # and the merge could memoize a segment_reject computed from
            # PRE-merge ranges — the merged dir reuses an absorbed segment's
            # name, so replaying that reject would drop its widened rows
            self._route_memo.clear()
        # hybrid maintenance: fold the realtime tail's values into the
        # persisted global dictionaries so subsequent hybrid
        # intersect/distinct queries skip the per-query dictionary-extend
        # job (NGlobalDictionaryV2 versioned persistence parity)
        part = self.hybrids.get(name)
        if part is not None:
            from kylin_on_parquet_v2_spark.streaming.hybrid import (
                fold_tail_dictionary,
            )

            fold_tail_dictionary(inst, part, self.spark)
        return built

    def refresh_segment(self, name: str, segment: str) -> None:
        """REFRESH one existing segment: re-cube its (possibly restated)
        source rows and swap the rebuilt bytes in, other segments untouched
        (reference ``CubeManager.refreshSegment`` — the REFRESH job type).
        Serving continues from the old bytes until each layout's swap."""
        inst = self.cubes[name]
        model = self.models[inst.desc.model_name]
        CubeBuilder(self.spark, model, inst.desc, self.storage_dir).rebuild_segment(
            inst, segment
        )
        self._cache_epoch += 1
        self._route_memo.clear()

    def register_hybrid(
        self, cube_name: str, realtime_dir: str, ts_col: str = "ts"
    ) -> None:
        """Attach a realtime streaming store to a built segmented cube,
        turning it into a HYBRID realization (reference
        storage/hybrid/HybridInstance, split at TableScanPlan.scala:58-62):
        queries on the model's fact table are served as batch-cuboid
        partials UNION the post-boundary realtime tail, re-merged. The
        batch side must absorb WHOLE segments (segment-aligned coverage is
        the split contract); realtime segment dir values must extend the
        batch segment value format so prefix comparison orders them."""
        from kylin_on_parquet_v2_spark.streaming.hybrid import HybridPart

        from kylin_on_parquet_v2_spark.cube.build import SEGMENT_COL

        inst = self.cubes[cube_name]
        if not inst.segmented:
            raise ValueError("hybrid registration requires a segmented cube")
        part = HybridPart(realtime_dir=realtime_dir, ts_col=ts_col)
        # the boundary filter splits on the segment column; a store without
        # it would union the WHOLE realtime dir with the batch partials and
        # silently double-count every batch-covered row (round-5 advisor
        # finding #2) — refuse the registration up front
        if SEGMENT_COL not in part.columns(self.spark):
            raise ValueError(
                f"realtime store {realtime_dir!r} has no {SEGMENT_COL!r} "
                "column — hybrid serving needs the segment-aligned boundary "
                "(write the store with streaming/segments.py appenders)"
            )
        self.hybrids[cube_name] = part
        self._cache_epoch += 1
        self._route_memo.clear()

    def compact_realtime(
        self, cube_name: str, max_fragments: int = 8
    ) -> dict[str, tuple[int, int]]:
        """Maintenance pass over a hybrid realization's realtime store
        (reference: the coordinator schedules FragmentFilesMerger when a
        segment's fragment count crosses the trigger): compact partition
        dirs that accumulated more than ``max_fragments`` micro-batch file
        sets into size-targeted files. Safe while serving — per-dir
        write-then-swap, the actively-appending newest dir is skipped, and
        compaction moves bytes, never rows, so in-flight and subsequent
        hybrid queries are unaffected (the HybridPart's cached column set
        is schema-level and survives). Returns {segment: (files before,
        files after)} for the dirs rewritten."""
        from kylin_on_parquet_v2_spark.streaming.compaction import maybe_compact
        from kylin_on_parquet_v2_spark.streaming.hybrid import fold_tail_dictionary

        part = self.hybrids[cube_name]
        out = maybe_compact(
            self.spark, part.realtime_dir, max_fragments=max_fragments
        )
        # re-fold after compaction: rewritten dirs changed file names, which
        # invalidates the dictionary tail-coverage listing — fold records
        # the new listing (no new values, so the dictionaries are untouched)
        # and restores the query-time extend-skip fast path
        fold_tail_dictionary(self.cubes[cube_name], part, self.spark)
        return out

    def recommend_cuboids(
        self,
        name: str,
        budget_rows: int | None = None,
        max_cuboids: int | None = None,
    ) -> list[int]:
        """Cube-planner recommendation from the recorded workload
        (CuboidRecommender.getRecommendCuboidList parity): BPUS greedy over
        this cube's lattice, weighted by real query frequencies. Derived
        columns in recorded queries are mapped to their host FKs first —
        the same translation the router applies. Apply the result by
        rebuilding with ``dataclasses.replace(desc,
        cuboid_ids=tuple(ids))``."""
        from kylin_on_parquet_v2_spark.cube.planner import recommend_cuboids
        from kylin_on_parquet_v2_spark.query.router import _derived_host

        inst = self.cubes[name]
        dims = set(inst.desc.dimensions)
        wl: Counter = Counter()
        for q, n in self.workload.items():
            mapped: set[str] = set()
            ok = True
            for c in q:
                if c in dims:
                    mapped.add(c)
                else:
                    host = _derived_host(c, inst)
                    if host is None:
                        ok = False
                        break
                    mapped.update(host.join.foreign_key)
            if ok:
                wl[frozenset(mapped)] += n
        return recommend_cuboids(
            inst.scheduler, wl, inst.layout_rows, budget_rows, max_cuboids
        )

    def estimate_cube_stats(
        self,
        desc,
        rsd: float = 0.02,
        sample_frac: float | None = None,
    ) -> dict[int, int]:
        """PRE-BUILD cuboid row-count estimates for an unbuilt CubeDesc
        (CubeStatsReader / FactDistinctColumns statistics-step parity): one
        flat-table pass of per-cuboid HLL sketches — correlation-aware,
        unlike the NDV-product bound — so the planner can prune the lattice
        before any layout is written."""
        from kylin_on_parquet_v2_spark.cube.build import CubeBuilder
        from kylin_on_parquet_v2_spark.cube.stats import estimate_cuboid_stats

        builder = CubeBuilder(
            self.spark, self.models[desc.model_name], desc, self.storage_dir
        )
        return estimate_cuboid_stats(
            builder._flat_with_segment(), builder.scheduler, rsd, sample_frac
        )

    def plan_cube(
        self,
        desc,
        workload: dict | None = None,
        budget_rows: int | None = None,
        max_cuboids: int | None = None,
        rsd: float = 0.02,
        sample_frac: float | None = None,
    ):
        """Phase-1 cube planning (CuboidRecommender over CubeStatsReader
        estimates): size every candidate cuboid from the flat table WITHOUT
        building, run the BPUS greedy against ``workload`` (dim-set ->
        frequency; defaults to this engine's recorded workload restricted
        to the cube's dims), and return a ``cuboid_ids``-pruned copy of
        ``desc`` ready for ``build_cube``. Phase 2 — re-planning from
        MEASURED layout rows + live workload — remains
        :meth:`recommend_cuboids` on the built instance."""
        import dataclasses

        from kylin_on_parquet_v2_spark.cube.cuboid import CuboidScheduler
        from kylin_on_parquet_v2_spark.cube.planner import recommend_cuboids

        est = self.estimate_cube_stats(desc, rsd=rsd, sample_frac=sample_frac)
        dims = set(desc.dimensions)
        if workload is None:
            workload = {
                q: n for q, n in self.workload.items() if set(q) <= dims
            }
        ids = recommend_cuboids(
            CuboidScheduler(desc),
            {frozenset(q): n for q, n in workload.items()},
            est,
            budget_rows,
            max_cuboids,
        )
        return dataclasses.replace(desc, cuboid_ids=tuple(ids))

    # -- query ---------------------------------------------------------------

    def sql(
        self,
        query: str,
        use_cube: bool = True,
        validate: bool = False,
        approx_distinct: bool = False,
        approx_topn: bool = False,
        params: list | dict | None = None,
    ) -> DataFrame:
        """Answer ``query``; serve from a cuboid when provably equivalent.

        ``approx_distinct=True`` additionally lets COUNT(DISTINCT col) be
        answered from a declared hllc sketch measure (accuracy-bounded, the
        reference's hllc semantics) when the column is not a dimension.

        ``approx_topn=True`` additionally lets a multi-segment top-k query
        (date range / whole history) be served by MERGING per-segment stored
        TopN lists — approximate with a declared bound (the reference's
        TopNMeasureType sum-merge capability); exact refusal is the default.

        ``params`` binds prepared-statement parameters (the reference's
        PreparedState path, corpus sql_dynamic/): a list for positional
        ``?`` markers or a dict for ``:name`` markers. Binding happens in
        the parser, so parameters are literals by analysis time and the
        digest/routing path is identical to the spelled-out query — a
        parameterized dashboard query still takes its cuboid route.
        """
        for t in self.transformers:
            query = t(query)
        pkey = tuple(params) if isinstance(params, list) else (
            tuple(sorted(params.items())) if isinstance(params, dict) else None
        )
        memo_key = (
            query, pkey, use_cube, approx_distinct, approx_topn, self._cache_epoch
        )
        with self._memo_lock:
            memo = self._route_memo.get(memo_key) if not validate else None
        if memo is not None and memo.kind in ("routed", "multi"):
            # replay without re-analyzing the SQL or re-scoring every cube
            decision, out = self._replay(memo, approx_distinct)
            if out is not None:
                self._record(decision, memo_key, replayed=True)
                return out
            # the cubes changed under the decision: drop it and plan again
            with self._memo_lock:
                self._route_memo.pop(memo_key, None)
            memo = None
        df = self.spark.sql(query, args=params) if params is not None else self.spark.sql(query)
        if not use_cube or not self.cubes:
            reason = "use_cube=False" if not use_cube else "no cube registered"
            decision, out = Decision("bypass", reason=reason), None
        elif memo is not None:
            # memoized pushdown/undigestible: skip digest extraction and
            # cube scoring — spark.sql above already produced the answer
            decision, out = memo, None
        else:
            decision, out = self._decide(df, approx_distinct, approx_topn)
        self._record(decision, memo_key, replayed=memo is not None)
        if out is None:
            return df
        if validate:
            self._assert_same(out, df)
        return out

    # -- routing decision: decide, serve, record -----------------------------

    def _decide(
        self, df: DataFrame, approx_distinct: bool, approx_topn: bool
    ) -> tuple[Decision, DataFrame | None]:
        """Plan ``df`` from scratch and serve the plan. A digestible query
        takes its cheapest cuboid; otherwise each island of a join or set
        operation of aggregates routes on its own (the reference's
        one-OLAPContext-per-island model, OLAPContext.java:122-182) and the
        served results are combined. Returns the decision and the routed
        answer, or None when ``spark.sql`` answers."""
        # every cube's epoch BEFORE planning: a maintenance pass that moves
        # one while the answer is built leaves the stored epoch stale
        epochs = {name: inst.lifecycle_epoch for name, inst in self.cubes.items()}
        digest = extract_digest(df)
        if digest is not None:
            cols = digest.needed_cols()
            best = self._choose(digest, approx_distinct, approx_topn)
            if best is None:
                return Decision("pushdown", workload_cols=cols, reason=_NO_CUBE), None
            decision, out = self._serve(
                Decision("routed", digest, (best[1],), workload_cols=cols),
                approx_distinct,
            )
            if out is None:
                return decision, None
            return self._freeze(decision, out, epochs), out
        reason = "undigestible"
        for extract in (extract_join_digest, extract_union_digest, extract_agg_over_union):
            obj = extract(df)
            if obj is None:
                continue
            decision, out = self._serve(Decision("multi", obj), approx_distinct)
            if out is not None:
                return self._freeze(decision, out, epochs), out
            reason = decision.reason
        return Decision("undigestible", reason=reason), None

    @staticmethod
    def _freeze(d: Decision, out: DataFrame, epochs: dict) -> Decision:
        """``d`` with its route cubes' epochs and, unless a route reads a
        hybrid realtime tail, the analyzed plan of its answer ``out``."""
        cubes = sorted({r.cube for r in d.routes})
        hybrid = any(r.hybrid_tail for r in d.routes)
        return replace(
            d,
            epochs=tuple((c, epochs.get(c)) for c in cubes),
            analyzed=None if hybrid else out._jdf.queryExecution().analyzed(),
        )

    def _replay(
        self, d: Decision, approx_distinct: bool
    ) -> tuple[Decision, DataFrame | None]:
        """Serve a memoized ``routed`` or ``multi`` decision: a new Dataset
        over its frozen analyzed plan, or for a hybrid one an answer
        rebuilt from the stored digest. No answer when a route cube is gone
        or its segment lifecycle moved on since the decision was frozen
        (merge/retention/append outside refresh_cube): the plan's file
        listing and the Route's segment_filters/segment_reject may be
        stale — a merged dir reuses an absorbed segment's name with WIDER
        ranges, so replaying the old reject would silently drop its rows."""
        for name, epoch in d.epochs:
            inst = self.cubes.get(name)
            if inst is None or inst.lifecycle_epoch != epoch:
                return replace(d, reason="stale decision"), None
        if d.analyzed is None:
            return self._serve(d, approx_distinct)
        if self._of_rows is None:
            self._of_rows = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
        return d, DataFrame(self._of_rows(self.spark._jsparkSession, d.analyzed), self.spark)

    def _serve(
        self, d: Decision, approx_distinct: bool
    ) -> tuple[Decision, DataFrame | None]:
        """Build the routed answer of ``d``: a fresh decision, or a
        memoized hybrid one. Returns the decision as served — a
        multi-context one carries the routes its islands took this time —
        and the answer; the answer is None, and the decision carries the
        reason, when ``d`` cannot be served. A routed decision whose answer
        fails to build is served as a pushdown."""
        if d.kind == "routed":
            route = d.routes[0]
            try:
                return d, self._execute_planned(d.plan, self.cubes[route.cube], route)
            except Exception as exc:  # build surprise — pushdown is always right
                return Decision(
                    "pushdown", workload_cols=d.workload_cols, reason=_exc_reason(exc)
                ), None
        execute = {
            JoinOfAggregates: self._execute_join_digest,
            UnionOfAggregates: self._execute_union_digest,
            AggOverUnion: self._execute_agg_over_union,
        }[type(d.plan)]
        routes: list[Route] = []
        try:
            out = execute(d.plan, approx_distinct, routes)
        except Exception as exc:  # analysis surprise — pushdown is always right
            return replace(d, reason=_exc_reason(exc)), None
        if out is None:
            return replace(d, reason=_NO_CUBE), None
        return replace(d, routes=tuple(routes)), out

    def _record(self, d: Decision, key: tuple, replayed: bool) -> None:
        """Apply one served decision: ``last_route(s)``, the route memo,
        the cube-planner workload and every routing metric. Fresh and
        memoized decisions count alike; only ``route_memo_hits`` tells
        them apart."""
        self.last_decision = d
        self.last_routes = list(d.routes)
        self.last_route = d.routes[0] if d.routes else None
        if d.kind == "bypass":
            return
        if replayed:
            self.metrics["route_memo_hits"] += 1
        else:
            # memo mutations take _memo_lock (routing itself is serialized
            # by callers — the server holds its own lock — this only keeps
            # the OrderedDict structurally sound under embedded concurrent use)
            with self._memo_lock:
                self._route_memo[key] = d
                self._route_memo.move_to_end(key)
                while len(self._route_memo) > self.ROUTE_MEMO_SIZE:
                    self._route_memo.popitem(last=False)
        if d.workload_cols is not None:
            self.workload[d.workload_cols] += 1
        if d.kind == "pushdown":
            self.metrics["pushdown"] += 1
            return
        if d.kind == "undigestible":
            self.metrics["undigestible"] += 1
            return
        self.metrics["routed"] += 1
        if d.kind == "multi":
            self.metrics["routed_multi_context"] += 1
        else:
            route = d.routes[0]
            if route.exact:
                self.metrics["exact_hits"] += 1
            if route.segment_reject:
                # observability for the DimensionRangeInfo fold: how many
                # whole segments the dim-range pruner removed from this scan
                self.metrics["segments_range_pruned"] += len(route.segment_reject)
        for r in d.routes:
            self.metrics[f"cube:{r.cube}"] += 1

    def _choose(
        self, digest, approx_distinct: bool, approx_topn: bool = False
    ) -> tuple[CubeInstance, Route] | None:
        """Realization choice (RealizationChooser parity): the cheapest
        (inst, route) by :meth:`_route_cost` among all cubes that can serve
        ``digest``; None when none can. A hybrid-registered cube's batch
        layouts are INCOMPLETE for its table, so it participates only when
        the shape merges exactly across the batch/realtime split
        (hybrid_servable) — otherwise it stands aside entirely and pushdown
        reads the full source view."""
        from kylin_on_parquet_v2_spark.streaming.hybrid import (
            hybrid_columns_ok,
            hybrid_servable,
        )

        candidates: list[tuple[CubeInstance, Route]] = []
        for inst in self.cubes.values():
            self.metrics["plan_route_calls"] += 1
            route = plan_route(
                digest, inst, approx_distinct=approx_distinct, approx_topn=approx_topn
            )
            if route is None:
                continue
            if inst.desc.name in self.hybrids:
                part = self.hybrids[inst.desc.name]
                if not hybrid_servable(digest, route) or not hybrid_columns_ok(
                    digest, inst, part, self.spark, route
                ):
                    continue
                route.hybrid_tail = part.realtime_dir
            candidates.append((inst, route))
        return min(candidates, key=self._route_cost) if candidates else None

    def _execute_planned(self, digest, inst, route) -> DataFrame:
        hyb = self.hybrids.get(inst.desc.name)
        if hyb is not None:
            from kylin_on_parquet_v2_spark.streaming.hybrid import execute_hybrid

            self.metrics["routed_hybrid"] += 1
            return execute_hybrid(digest, inst, route, hyb, self.spark)
        return execute_route(digest, inst, route, self.spark)

    @staticmethod
    def _route_cost(c) -> tuple:
        """Exact-match hits first, then FEWEST LAYOUT ROWS (the real scan
        cost — RealizationChooser/Cuboid cost parity); dim count as the
        tiebreak/fallback when row metadata is absent (absent = unknown
        sorts last; measured 0 = cheapest). At equal rows AND dims — e.g.
        the SSB supplier-variant pair materializing the identical cuboid —
        the cube with FEWER declared measures wins (narrower layout rows =
        fewer bytes scanned), then cube name for full determinism."""
        inst_, route_ = c
        rows = inst_.layout_rows.get(route_.cuboid.cuboid_id)
        return (
            not route_.exact,
            float("inf") if rows is None else rows,
            route_.cuboid.n_dims,
            len(inst_.desc.measures),
            inst_.desc.name,
        )

    def _execute_join_digest(
        self, jd, approx_distinct: bool, routes: list
    ) -> DataFrame | None:
        """Route every island of a (possibly nested) join-of-aggregates
        independently and join the served results (reference: each
        OLAPContext picks its own realization; the join tree above runs on
        already-aggregated rows — tiny inputs, so Spark broadcasts sides).
        Appends each island's route to ``routes``; None unless ALL islands
        route."""
        out = self._execute_island(jd, approx_distinct, routes)
        if out is None:
            return None
        if jd.window_exprs or jd.window_projects:
            # windows over the joined islands (OLAPWindowRel above the
            # multi-context join): pre-layers (window input expressions)
            # first, then the window calls, then the output layers — the
            # captured projections carry the final shape, so project/select
            # replay is skipped
            for layer in jd.pre_projects:
                out = out.selectExpr(*[f"{sql} AS `{name}`" for name, sql in layer])
            for grp in jd.window_exprs:
                out = out.selectExpr(
                    "*", *[f"{sql} AS `{name}`" for name, sql in grp]
                )
            for layer in jd.window_projects:
                out = out.selectExpr(*[f"{sql} AS `{name}`" for name, sql in layer])
        elif jd.project:
            out = out.selectExpr(
                *[f"{sql} AS `{n}`" if sql else f"`{n}`" for n, sql in jd.project]
            )
        else:
            out = out.select(*jd.select)
        if jd.sort:
            out = out.orderBy(*sort_columns(jd.sort))
        if jd.limit is not None:
            out = out.limit(jd.limit)
        return out

    def _execute_island(self, x, approx_distinct: bool, routes: list) -> DataFrame | None:
        """Serve one island: a nested join recurses; a leaf digest routes
        onto its best cuboid (appending to ``routes``)."""
        if isinstance(x, JoinOfAggregates):
            df_l = self._execute_island(x.left, approx_distinct, routes)
            if df_l is None:
                return None
            df_r = self._execute_island(x.right, approx_distinct, routes)
            if df_r is None:
                return None
            cond = None
            for a, b in x.on:
                c = df_l[a] == df_r[b]
                cond = c if cond is None else (cond & c)
            return df_l.join(df_r, cond, x.join_type)
        best = self._choose(x, approx_distinct)
        if best is None:
            return None
        inst, route = best
        routes.append(route)
        return self._execute_planned(x, inst, route)

    def _execute_union_digest(
        self, ud, approx_distinct: bool, routes: list
    ) -> DataFrame | None:
        """Route every UNION ALL branch independently (OLAPUnionRel parity:
        one context and realization per branch; UnionPlan.scala:28-44 folds
        the served results positionally). Appends each branch's route to
        ``routes``; None unless ALL branches route."""
        dfs = []
        for d in ud.children:
            best = self._choose(d, approx_distinct)
            if best is None:
                return None
            inst, route = best
            routes.append(route)
            dfs.append(self._execute_planned(d, inst, route))
        first_cols = dfs[0].columns
        out = dfs[0]
        for x in dfs[1:]:
            x = x.toDF(*first_cols)  # positional resolution, like SQL set ops
            if ud.op in ("union_all", "union_distinct"):
                out = out.union(x)
            elif ud.op == "intersect":
                out = out.intersect(x)
            elif ud.op == "intersect_all":
                out = out.intersectAll(x)
            elif ud.op == "except_distinct":
                out = out.subtract(x)
            elif ud.op == "except_all":
                out = out.exceptAll(x)
            else:
                return None
        if ud.op == "union_distinct":
            out = out.distinct()
        if ud.sort:
            out = out.orderBy(*sort_columns(ud.sort))
        if ud.limit is not None:
            out = out.limit(ud.limit)
        return out

    def _execute_agg_over_union(
        self, ad, approx_distinct: bool, routes: list
    ) -> DataFrame | None:
        """Serve the union branches from their cuboids, then re-run the
        outer aggregate verbatim over the served (tiny) union."""
        base = self._execute_union_digest(ad.base, approx_distinct, routes)
        if base is None:
            return None
        aggs = [F.expr(sql).alias(n) for n, sql in ad.select if sql is not None]
        if aggs:
            out = base.groupBy(*ad.group_cols).agg(*aggs)
        else:
            # aggregate with no agg calls == SELECT DISTINCT of the groups
            out = base.select(*ad.group_cols).distinct()
        out = out.select(*[n for n, _ in ad.select])
        if ad.sort:
            out = out.orderBy(*sort_columns(ad.sort))
        if ad.limit is not None:
            out = out.limit(ad.limit)
        return out

    def explain(self, query: str, approx_distinct: bool = False) -> str:
        """Human-readable routing decision + physical plan for ``query``."""
        df = self.sql(query, approx_distinct=approx_distinct)
        route = self.last_route
        head = (
            f"route: cube={route.cube} cuboid={route.cuboid.dims} "
            f"exact={route.exact} derived={[lk.table for lk in route.derived]} "
            f"segment_filters={route.segment_filters} "
            f"shard_eq={route.shard_eq} "
            f"approx_distinct={route.approx_distinct} "
            f"bitmap_distinct={route.bitmap_distinct} "
            f"bitmap_cond={route.bitmap_cond} "
            f"bitmap_intersect={route.bitmap_intersect} "
            f"bitmap_intersect_value={route.bitmap_intersect_value} "
            f"topn={route.topn} "
            f"topn_approx={route.topn_approx} "
            f"dim_served={route.dim_served} "
            f"time_rewritten={route.time_rewritten} "
            f"hybrid_tail={route.hybrid_tail}"
            if route is not None
            else "route: none (pushdown — plain spark.sql)"
        )
        if route is not None:
            head += "\n" + _scan_line(route, self.cubes[route.cube])
        if len(self.last_routes) > 1:
            head += (
                f"\nmulti-context: {len(self.last_routes)} islands -> "
                f"{[(r.cube, r.cuboid.dims) for r in self.last_routes]}"
            )
        if self.last_decision is not None and self.last_decision.reason:
            head += f"\nreason: {self.last_decision.reason}"
        plan = df._jdf.queryExecution().executedPlan().toString()
        return head + "\n" + plan

    def pushdown(self, query: str) -> DataFrame:
        """The always-correct flat path (reference SparkSqlClient.scala:41-55)."""
        return self.spark.sql(query)

    # -- query lifecycle: cancellation + wall-time budget ----------------------

    def tracked_query(self, query_id: str | None = None,
                      timeout_sec: float | None = None, description: str = ""):
        """Context manager bracketing ONE query's execution window so it can
        be cancelled by id (reference ResultPlan.scala:89: every query's
        Spark jobs are tagged ``setJobGroup(queryId, ...,
        interruptOnCancel=true)`` so ``cancelJobGroup`` can kill them;
        SparkSqlClient.scala:78-93 does the same on the pushdown path).

        Usage — plan AND collect inside the block, on the same thread (the
        job group is a thread-local property, so only this thread's jobs
        are tagged)::

            with engine.tracked_query(timeout_sec=60) as qid:
                rows = engine.sql(q).collect()   # killable via qid

        ``timeout_sec`` (or the engine-level ``query_timeout_sec`` default)
        arms the BadQueryDetector watchdog: past the budget the query's
        jobs are cancelled mid-flight and the collect raises. The group tag
        is cleared on exit so later queries on this thread are unaffected.
        """
        from contextlib import contextmanager

        from kylin_on_parquet_v2_spark.query.lifecycle import new_query_id

        @contextmanager
        def _cm():
            qid = query_id or new_query_id()
            # the Spark job group is ALWAYS a fresh server-generated id:
            # cancelJobGroupAndFutureJobs leaves the group id in the
            # context's cancelled-groups set, so tagging a client-supplied
            # (reusable) query_id would kill a legitimate retry on arrival
            # (round-8 advisor, medium). stop_query resolves query_id ->
            # group_id through the tracker registry.
            group_id = new_query_id()
            # register FIRST (raises on a duplicate running query_id —
            # the server's 409) so a rejected request never tags the thread
            self.tracker.start(qid, description, timeout_sec, group_id=group_id)
            sc = self.spark.sparkContext
            try:
                sc.setJobGroup(group_id, (description or qid)[:200], True)
            except BaseException:
                # a py4j hiccup here must not leak a forever-'running'
                # registry entry (every retry of this query_id would 409)
                self.tracker.finish(qid)
                raise
            try:
                yield qid
            finally:
                self.tracker.finish(qid)
                # drop the thread-local tags so this thread's NEXT query
                # doesn't inherit a (possibly cancelled) group id
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
                self.metrics["queries_cancelled_user"] = (
                    self.tracker.n_cancelled_by_user
                )
                self.metrics["queries_cancelled_watchdog"] = (
                    self.tracker.n_cancelled_by_watchdog
                )
                self.metrics["queries_slow_reported"] = (
                    self.tracker.n_slow_reported
                )

        return _cm()

    def stop_query(self, query_id: str, reason: str = "stopped by user") -> bool:
        """Kill one running query's Spark jobs (ResultPlan.scala:115
        ``cancelJobGroup``; REST stopQuery QueryController.java:217-220).
        False when the id isn't currently running."""
        return self.tracker.stop_query(query_id, reason)

    def running_queries(self) -> list[dict]:
        """Snapshot of in-flight tracked queries (id, sql, elapsed,
        budget) — the read side of the stop endpoint."""
        return self.tracker.running()

    def shutdown(self) -> None:
        """Orderly teardown: cancel every running tracked query, then stop
        the watchdog thread. The SparkSession is NOT stopped (it is shared
        with the caller)."""
        for q in self.tracker.running():
            self.tracker.stop_query(q["query_id"], reason="engine shutdown")
        self.tracker.shutdown()

    # -- validation (dual execution) ------------------------------------------

    @staticmethod
    def _normalize(rows) -> list[str]:
        out = []
        for r in rows:
            vals = []
            for v in r:
                if isinstance(v, float):
                    vals.append(f"{v:.4f}")  # partial-agg order changes FP low bits
                else:
                    vals.append(str(v))
            out.append("|".join(vals))
        return sorted(out)

    @classmethod
    def _assert_same(cls, a: DataFrame, b: DataFrame) -> None:
        rows_a = cls._normalize(a.collect())
        rows_b = cls._normalize(b.collect())
        if rows_a != rows_b:
            diff_a = [r for r in rows_a if r not in rows_b][:5]
            diff_b = [r for r in rows_b if r not in rows_a][:5]
            raise AssertionError(
                f"routed answer != pushdown answer; routed-only={diff_a} pushdown-only={diff_b}"
            )
