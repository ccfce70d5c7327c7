"""HTTP query endpoint: the reference's REST surface re-expressed over the
engine facade.

Reference parity: ``server-base/.../rest/service/QueryService.java`` —
``POST /api/query`` (doQueryWithCache :374-461) is the reference's main user
entry point; the response carries the result rows plus routing metadata
(which realization answered, whether the query hit a cube or fell through to
pushdown). Cube/metrics listings mirror the REST controllers' read side.

Deliberately stdlib-only (http.server): the surface is the contract, not the
web stack. One engine serves all requests; ONLY digest/route planning runs
under the lock (it reads/writes engine-global ``last_route`` state — the
reference keeps OLAPContext thread-local instead). Spark job execution and
result collection happen OUTSIDE the critical section, so a slow pushdown
scan no longer blocks a fast routed dashboard query on another connection
(Spark schedules jobs from concurrent threads independently).
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from kylin_on_parquet_v2_spark.query.engine import OlapEngine

#: server-side result cap (QueryUtil.appendLimitOffsetToSql parity — the
#: reference force-appends a LIMIT so a runaway SELECT cannot flood the
#: REST worker); requests may lower it, never raise it
MAX_RESULT_ROWS = 10_000


def _json_cell(v: Any) -> Any:
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, list):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_cell(x) for k, x in v.items()}
    return v


def _route_info(route) -> dict | None:
    if route is None:
        return None
    return {
        "cube": route.cube,
        "cuboid_dims": list(route.cuboid.dims),
        "exact": route.exact,
        "derived": [lk.table for lk in route.derived],
        "segment_filters": list(route.segment_filters),
        "shard_eq": list(route.shard_eq) if route.shard_eq else None,
        "bitmap_distinct": dict(route.bitmap_distinct),
        "topn": bool(route.topn),
        "topn_approx": route.topn_approx,
        "hybrid": bool(route.hybrid_tail),
    }


class _Handler(BaseHTTPRequestHandler):
    engine: OlapEngine  # set by make_server
    lock: threading.Lock

    # silence per-request stderr logging
    def log_message(self, fmt: str, *args) -> None:  # noqa: A003
        pass

    def _reply(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802
        eng = self.engine
        if self.path == "/health":
            self._reply(200, {"status": "ok"})
        elif self.path == "/api/cubes":
            with self.lock:
                cubes = [
                    {
                        "name": inst.desc.name,
                        "model": inst.model.name,
                        "dimensions": list(inst.desc.dimensions),
                        "measures": [m.name for m in inst.desc.measures],
                        "segmented": inst.segmented,
                        "n_layouts": len(inst.layouts),
                    }
                    for inst in eng.cubes.values()
                ]
            self._reply(200, {"cubes": cubes})
        elif self.path == "/api/metrics":
            with self.lock:
                self._reply(200, {"metrics": dict(eng.metrics)})
        elif self.path.startswith("/api/cubes/") and self.path.endswith("/recommend"):
            # GET /api/cubes/<name>/recommend — cube-planner recommendation
            # from the recorded workload + measured layout rows (reference
            # CubeController.java:932 /{cubeName}/cuboids/recommend)
            name = self.path[len("/api/cubes/") : -len("/recommend")]
            with self.lock:
                if name not in eng.cubes:
                    self._reply(404, {"error": f"unknown cube {name}"})
                    return
                inst = eng.cubes[name]
                ids = eng.recommend_cuboids(name)
                self._reply(
                    200,
                    {
                        "cube": name,
                        "recommended_cuboids": [
                            {
                                "cuboid_id": cid,
                                "dims": list(inst.scheduler.cuboids[cid].dims),
                                "rows": inst.layout_rows.get(cid),
                            }
                            for cid in ids
                        ],
                        "n_current_layouts": len(inst.layouts),
                    },
                )
        elif self.path == "/api/queries":
            # running-query listing (the read side of stopQuery — the
            # reference's query page shows in-flight queries + durations)
            # plus the slow-query log (BadQueryDetector "Slow" reports)
            self._reply(
                200,
                {"queries": eng.running_queries(), "slow": eng.tracker.slow()},
            )
        else:
            self._reply(404, {"error": f"unknown path {self.path}"})

    def do_POST(self) -> None:  # noqa: N802
        if self.path not in ("/api/query", "/api/explain", "/api/query/stop"):
            self._reply(404, {"error": f"unknown path {self.path}"})
            return
        try:
            length = int(self.headers.get("Content-Length", "0"))
            req = json.loads(self.rfile.read(length) or b"{}")
            if self.path == "/api/query/stop":
                # stopQuery parity (QueryController.java:217-220): cancel a
                # running query's Spark jobs by its query_id. 'stopped'
                # False = not running (finished already or unknown id).
                qid = req["query_id"]
                stopped = self.engine.stop_query(qid, reason="stopped via REST")
                self._reply(200, {"query_id": qid, "stopped": stopped})
                return
            sql = req["sql"]
        except (KeyError, ValueError) as exc:
            self._reply(400, {"error": f"bad request: {exc}"})
            return
        if self.path == "/api/explain":
            self._explain(sql, req)
            return
        self._query(sql, req)

    def _explain(self, sql: str, req: dict) -> None:
        """Planning-only surface (reference parity: Kylin's query page
        shows the realization for a statement without running it): routes
        the SQL exactly like /api/query, returns the chosen realization
        per context plus the formatted Spark physical plan — never
        collects."""
        try:
            with self.lock:
                df = self.engine.sql(
                    sql,
                    use_cube=bool(req.get("use_cube", True)),
                    approx_distinct=bool(req.get("approx_distinct", False)),
                    approx_topn=bool(req.get("approx_topn", False)),
                    params=req.get("params"),
                )
                route = self.engine.last_route
                routes = list(self.engine.last_routes)
        except Exception as exc:
            self._reply(400, {"error": str(exc).split("\n", 1)[0]})
            return
        self._reply(
            200,
            {
                "columns": df.columns,
                "route": _route_info(route),
                "routes": [_route_info(r) for r in routes],
                "n_contexts": len(routes),
                "is_pushdown": route is None,
                "plan": _explain_string(df),
            },
        )

    def _query(self, sql: str, req: dict) -> None:
        limit = min(int(req.get("limit", MAX_RESULT_ROWS)), MAX_RESULT_ROWS)
        started = _dt.datetime.now()
        timeout = req.get("timeout_sec")
        # the whole request — routing AND collection — runs inside one
        # tracked-query window (ResultPlan.scala:89 parity): every Spark job
        # this handler thread submits carries a server-generated job group,
        # so POST /api/query/stop (or the wall-time watchdog) can kill it
        # mid-flight. Clients may pass their own query_id to stop it later;
        # the id maps to the internal group through the tracker, so a retry
        # reusing a stopped query's id is safe. Two CONCURRENT requests
        # sharing a query_id would collide in the registry — rejected 409.
        cm = self.engine.tracked_query(
            query_id=req.get("query_id"),
            timeout_sec=float(timeout) if timeout is not None else None,
            description=sql,
        )
        try:
            qid = cm.__enter__()
        except ValueError as exc:  # duplicate running query_id
            self._reply(409, {"error": str(exc)})
            return
        try:
            try:
                # Critical section covers ROUTING ONLY: engine.sql builds the
                # (lazy) DataFrame and records last_route/last_routes on the
                # engine; both are copied out before the lock drops, and
                # the collect below runs outside it, so a slow scan never
                # serializes all connections.
                with self.lock:
                    df = self.engine.sql(
                        sql,
                        use_cube=bool(req.get("use_cube", True)),
                        approx_distinct=bool(req.get("approx_distinct", False)),
                        approx_topn=bool(req.get("approx_topn", False)),
                        params=req.get("params"),
                    )
                    route = self.engine.last_route
                    routes = list(self.engine.last_routes)
            except Exception as exc:
                # planning failures are the client's problem: bad SQL, unknown
                # tables/columns (the reference's SQLException path)
                self._reply(400, {"error": str(exc).split("\n", 1)[0]})
                return
            try:
                # execution/collection outside the lock: concurrent requests'
                # Spark jobs run in parallel (FIFO/FAIR across threads)
                rows = df.limit(limit).collect()
            except Exception as exc:  # runtime failure on a planned query
                reason = self.engine.tracker.was_cancelled(qid)
                if reason is not None:
                    # killed by stopQuery or the watchdog — report the
                    # cancelled status, not a generic server error
                    self._reply(
                        410,
                        {"query_id": qid, "cancelled": True, "reason": reason},
                    )
                    return
                self._reply(500, {"error": str(exc).split("\n", 1)[0]})
                return
        finally:
            cm.__exit__(None, None, None)
        ms = (_dt.datetime.now() - started).total_seconds() * 1000
        self._reply(
            200,
            {
                "query_id": qid,
                "columns": df.columns,
                "rows": [[_json_cell(v) for v in r] for r in rows],
                "row_count": len(rows),
                "route": _route_info(route),
                # multi-context queries are served by several cubes — expose
                # every island's realization, not just the first
                "routes": [_route_info(r) for r in routes],
                "n_contexts": len(routes),
                "is_pushdown": route is None,
                "duration_ms": round(ms, 1),
            },
        )


def _explain_string(df) -> str:
    """Formatted physical plan without executing (what ``df.explain`` would
    print; captured instead of dumped to stdout)."""
    qe = df._jdf.queryExecution()
    try:
        jvm = df.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return qe.explainString(mode)
    except Exception:  # pragma: no cover — jvm access shape drift
        return qe.executedPlan().toString()


def make_server(
    engine: OlapEngine, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Create (but don't start) the HTTP server bound to ``host:port``
    (port 0 = ephemeral). Callers own the lifecycle::

        srv = make_server(engine)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        ...
        srv.shutdown()
    """
    handler = type(
        "BoundHandler", (_Handler,), {"engine": engine, "lock": threading.Lock()}
    )
    return ThreadingHTTPServer((host, port), handler)


def serve(engine: OlapEngine, host: str = "127.0.0.1", port: int = 7070) -> None:
    """Blocking entry point (the reference's default REST port is 7070)."""
    srv = make_server(engine, host, port)
    print(f"query server listening on http://{host}:{srv.server_address[1]}")
    srv.serve_forever()
