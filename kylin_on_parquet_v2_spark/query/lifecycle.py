"""Query lifecycle control: cancellation, wall-time budgets, and the
running-query registry.

Reference parity (the last operational subsystem from SURVEY.md §3):

- every query's Spark jobs are tagged with a job group
  (``kylin-spark-project/.../ResultPlan.scala:89`` ``setJobGroup(...,
  interruptOnCancel = true)``; the pushdown path does the same,
  ``SparkSqlClient.scala:78-93``), so
- a user/admin can kill one running query without touching the process
  (``ResultPlan.scala:115`` ``cancelJobGroup``; REST ``stopQuery`` at
  ``server-base/.../controller/QueryController.java:217-220``), and
- a watchdog thread detects queries exceeding a wall-time budget and kills
  them (``server-base/.../BadQueryDetector.java:38,129-147`` — the
  detector loop sleeps ``detectionInterval`` and cancels anything past
  ``queryTimeout``).

Spark-first mechanics: ``SparkContext.setJobGroup`` is a thread-local
property in PySpark's pinned-thread mode (the default since Spark 3.2), so
each concurrent query thread tags only its own jobs; ``cancelJobGroup``
works from ANY thread (the watchdog, an HTTP stop request) because
cancellation is by group id, not by thread. ``interruptOnCancel=True``
interrupts the executor task threads, which Spark's scan/range/shuffle
loops poll between batches — a cancelled scan dies in milliseconds, not at
stage end.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field


@dataclass
class RunningQuery:
    """One in-flight query: the registry row the watchdog scans."""

    query_id: str
    sql: str
    started_mono: float
    started_wall: float
    timeout_sec: float | None  # per-query budget; None = tracker default
    #: the Spark job-group id this query's jobs are tagged with. Distinct
    #: from query_id: clients may supply (and REUSE, across retries) their
    #: own query_id, but cancelJobGroupAndFutureJobs poisons a group id in
    #: SparkContext's cancelled-groups set — a retry sharing the group of a
    #: stopped query would be killed on arrival. The group id is therefore
    #: always server-generated and unique (round-8 advisor, medium).
    group_id: str = ""
    cancelled: bool = False
    cancel_reason: str | None = None
    thread_name: str = field(default_factory=lambda: threading.current_thread().name)

    def elapsed(self) -> float:
        return time.monotonic() - self.started_mono


class QueryTracker:
    """Registry of running queries + BadQueryDetector-style watchdog.

    ``start``/``finish`` bracket a query's execution window (set up by
    :meth:`OlapEngine.tracked_query`); :meth:`stop_query` cancels one by id
    (``cancelJobGroup``); a daemon watchdog thread — started lazily the
    first time any budget exists or a query is stopped — sweeps the
    registry every ``detect_interval_sec``, cancels queries past their
    budget, exactly the reference's detector loop
    (``BadQueryDetector.java:129-147``), and re-cancels the jobs of every
    stopped query still running.
    """

    #: finished-query cancellation verdicts kept for post-mortem lookup
    CANCEL_HISTORY = 256

    def __init__(
        self,
        spark,
        default_timeout_sec: float | None = None,
        detect_interval_sec: float = 0.5,
        slow_threshold_sec: float | None = None,
        low_memory_alert_mb: int | None = None,
    ):
        self.spark = spark
        self.default_timeout_sec = default_timeout_sec
        self.detect_interval_sec = detect_interval_sec
        #: the reference's detector has TWO levels: queries past the
        #: alert threshold are REPORTED as slow (BadQueryDetector "Slow"
        #: notification, BadQueryDetector.java:138-141) and only those
        #: past the kill budget are cancelled. None = report at half the
        #: kill budget (when one exists).
        self.slow_threshold_sec = slow_threshold_sec
        #: the detector's third report level (BadQueryDetector.java:165-167
        #: getSystemAvailMB() < alertMB): when system available memory dips
        #: under this many MB while queries run, count an alert — the
        #: operator signal that the box, not one query, is the problem.
        #: None disables the check.
        self.low_memory_alert_mb = low_memory_alert_mb
        self._running: dict[str, RunningQuery] = {}
        self._cancelled: "OrderedDict[str, str]" = OrderedDict()
        #: slow-query log (query_id -> snapshot), capped like the cancel
        #: history — the read side of "which dashboards need a cube"
        self.slow_queries: "OrderedDict[str, dict]" = OrderedDict()
        self._lock = threading.Lock()
        self._watchdog: threading.Thread | None = None
        self._stop_evt = threading.Event()
        #: observability counters (merged into engine.metrics by callers)
        self.n_cancelled_by_user = 0
        self.n_cancelled_by_watchdog = 0
        self.n_slow_reported = 0
        self.n_low_memory_alerts = 0
        self.n_watchdog_errors = 0
        self.last_avail_mb: int | None = None

    # -- registry -----------------------------------------------------------

    def start(
        self,
        query_id: str,
        sql: str = "",
        timeout_sec: float | None = None,
        group_id: str | None = None,
    ) -> RunningQuery:
        """Register a query. Raises ValueError when ``query_id`` is already
        running: two live queries sharing an id would collide in this
        registry (one finish() untracks the other; one stop kills both) —
        the server surfaces this as HTTP 409."""
        rq = RunningQuery(
            query_id=query_id,
            sql=sql,
            started_mono=time.monotonic(),
            started_wall=time.time(),
            timeout_sec=timeout_sec,
            group_id=group_id or query_id,
        )
        with self._lock:
            if query_id in self._running:
                raise ValueError(f"query_id {query_id!r} is already running")
            self._running[query_id] = rq
        # a budget/threshold only matters if something enforces it
        if (
            timeout_sec is not None
            or self.default_timeout_sec is not None
            or self.slow_threshold_sec is not None
            or self.low_memory_alert_mb is not None
        ):
            self._ensure_watchdog()
        return rq

    def finish(self, query_id: str) -> None:
        with self._lock:
            self._running.pop(query_id, None)

    def running(self) -> list[dict]:
        """Snapshot for the /api/queries listing."""
        with self._lock:
            rqs = list(self._running.values())
        return [
            {
                "query_id": rq.query_id,
                "sql": rq.sql[:500],
                "elapsed_sec": round(rq.elapsed(), 3),
                "timeout_sec": rq.timeout_sec
                if rq.timeout_sec is not None
                else self.default_timeout_sec,
                "cancelled": rq.cancelled,
                "thread": rq.thread_name,
            }
            for rq in rqs
        ]

    def slow(self) -> list[dict]:
        """Snapshot of the slow-query log (lock-held copy — the watchdog
        mutates the dict concurrently)."""
        with self._lock:
            return [
                {"query_id": qid, **info} for qid, info in self.slow_queries.items()
            ]

    def was_cancelled(self, query_id: str) -> str | None:
        """Cancellation reason for ``query_id`` (running or recently
        finished), or None if it was never cancelled — the server uses this
        to turn a collection exception into a 'stopped' status instead of a
        generic runtime error."""
        with self._lock:
            rq = self._running.get(query_id)
            if rq is not None and rq.cancelled:
                return rq.cancel_reason
            return self._cancelled.get(query_id)

    # -- cancellation --------------------------------------------------------

    def stop_query(
        self,
        query_id: str,
        reason: str = "stopped by user",
        by_watchdog: bool = False,
    ) -> bool:
        """Cancel one running query's Spark jobs (``cancelJobGroup``
        parity). Returns False when the id isn't running (already done or
        never seen) — the REST contract the reference's stopQuery has.
        ``by_watchdog`` attributes the kill in the counters explicitly
        (round-8 advisor: inferring it from a 'budget' substring in the
        free-text reason miscounted user stops that mention budgets)."""
        with self._lock:
            rq = self._running.get(query_id)
            if rq is None:
                return False
            rq.cancelled = True
            rq.cancel_reason = reason
            self._cancelled[query_id] = reason
            while len(self._cancelled) > self.CANCEL_HISTORY:
                self._cancelled.popitem(last=False)
            if by_watchdog:
                self.n_cancelled_by_watchdog += 1
            else:
                self.n_cancelled_by_user += 1
            group_id = rq.group_id
        # outside the lock: a py4j call must never serialize the registry.
        # cancelJobGroupAndFutureJobs (SPARK-44872) closes the race where
        # the stop lands BEFORE the query's first job is submitted (plain
        # cancelJobGroup only kills ACTIVE jobs — a slow-to-plan query
        # would sail through a too-early cancel). Group ids are
        # server-generated and unique per execution (never the client's
        # reusable query_id), so future-cancelling the group can never
        # hit an unrelated later query or a retry of this one.
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group_id)
        except Exception:  # pragma: no cover — private-API shape drift
            sc.cancelJobGroup(group_id)
        # the future-cancel misses AQE's shuffle-map stages submitted after
        # it: the watchdog sweep re-cancels the group until the query ends
        self._ensure_watchdog()
        return True

    # -- watchdog (BadQueryDetector.java:129-147 parity) ----------------------

    def _ensure_watchdog(self) -> None:
        with self._lock:
            if self._watchdog is not None and self._watchdog.is_alive():
                return
            self._stop_evt.clear()
            self._watchdog = threading.Thread(
                target=self._detect_loop, name="bad-query-detector", daemon=True
            )
            self._watchdog.start()

    def _detect_loop(self) -> None:
        while not self._stop_evt.wait(self.detect_interval_sec):
            # each sweep is guarded: an exception escaping one iteration
            # (a py4j hiccup past stop_query's fallback, /proc/meminfo
            # weirdness) must not kill the daemon thread silently — later
            # over-budget queries would then run forever with no signal
            # (round-8 advisor). Errors are counted, the loop lives on.
            try:
                self._detect_once()
            except Exception:
                self.n_watchdog_errors += 1

    def _detect_once(self) -> None:
            now = time.monotonic()
            over: list[tuple[str, float]] = []
            stopped: list[str] = []
            with self._lock:
                for rq in self._running.values():
                    if rq.cancelled:
                        stopped.append(rq.group_id)
                        continue
                    budget = (
                        rq.timeout_sec
                        if rq.timeout_sec is not None
                        else self.default_timeout_sec
                    )
                    elapsed = now - rq.started_mono
                    # level 1: report slow (once per query) — the
                    # reference's "Slow" notification, no kill
                    alert = (
                        self.slow_threshold_sec
                        if self.slow_threshold_sec is not None
                        else (budget / 2 if budget is not None else None)
                    )
                    if (
                        alert is not None
                        and elapsed >= alert
                        and rq.query_id not in self.slow_queries
                    ):
                        self.slow_queries[rq.query_id] = {
                            "sql": rq.sql[:500],
                            "elapsed_sec": round(elapsed, 3),
                            "thread": rq.thread_name,
                        }
                        self.n_slow_reported += 1
                        while len(self.slow_queries) > self.CANCEL_HISTORY:
                            self.slow_queries.popitem(last=False)
                    # level 2: kill past the budget
                    if budget is not None and elapsed >= budget:
                        over.append((rq.query_id, budget))
            # a stop that landed before the query's first job: the
            # future-cancel covers later result jobs, not the AQE
            # shuffle-map stages submitted meanwhile — cancel the group's
            # active jobs again on every sweep until the query finishes
            sc = self.spark.sparkContext
            for group_id in stopped:
                sc.cancelJobGroup(group_id)
            for qid, budget in over:
                self.stop_query(
                    qid,
                    reason=f"exceeded {budget}s wall-time budget (watchdog)",
                    by_watchdog=True,
                )
            # level 3: low system memory while queries run (the reference
            # reports it and lets the operator decide; killing on memory
            # would punish an innocent query for the box's state)
            if self.low_memory_alert_mb is not None:
                avail = _system_avail_mb()
                self.last_avail_mb = avail
                if (
                    avail is not None
                    and avail < self.low_memory_alert_mb
                    and self._running
                ):
                    self.n_low_memory_alerts += 1

    def shutdown(self) -> None:
        self._stop_evt.set()
        wd = self._watchdog
        if wd is not None:
            wd.join(timeout=2.0)


def _system_avail_mb() -> int | None:
    """MemAvailable from /proc/meminfo in MB (Linux; None elsewhere) —
    the same 'system available' signal the reference detector samples."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // 1024
    except OSError:  # pragma: no cover — non-Linux
        return None
    return None


def new_query_id() -> str:
    return "query-" + uuid.uuid4().hex[:12]
