"""Thin REST serving facade (SURVEY.md §2.1 S5 — optional layer).

Mirrors the reference's Jetty/Jersey endpoints
(querying/QueryingService.java:25,38-122,124-203):

  GET /api/temperature/aggregate/{op}/history
      ?geohashes=gh1,gh2[&from=ms][&to=ms][&interval=1day|1week|1month|all]
      [&gh_precision=p]
  GET /api/temperature/aggregate/{op}/snapshot
      ?ts=ms&bbox=N,W,S,E[&gh_precision=p]

Responses use the Message envelope {columns, data, metadata}
(model/Message.java:7-16); validation failures return HTTP 400 with
{errorMessage, errorCode} (model/ErrorMessage.java:3-14).

NOT correctness-bearing engine code: a serving shim over the query
functions, stdlib-only (http.server) so it runs anywhere PySpark does.
The reference's cross-host scatter-gather (`local=true` fan-out) has
no equivalent because a single Spark query already aggregates the
distributed view (SURVEY.md §2.3 A7) — the parameter is accepted and
ignored for API compatibility.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame

from kafka_streams_pipeline_spark.operators.queries import (
    history,
    history_interval,
    snapshot,
)
from kafka_streams_pipeline_spark.plans.envelope import to_message
from kafka_streams_pipeline_spark.plans.validation import (
    QueryValidationError,
    validate_bbox,
)


def _ms_to_dt(ms: int | None) -> dt.datetime | None:
    if ms is None or ms < 0:  # -1 sentinel = unset (QueryingService.java:63)
        return None
    return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)


class QueryHandler(BaseHTTPRequestHandler):
    view: DataFrame  # injected by serve()
    # (spark, sf_dir) for the generic /api/queries registry surface;
    # None disables that route (reference-parity-only serving)
    registry_ctx: tuple | None = None

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _reply(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (stdlib API)
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        parts = [p for p in url.path.split("/") if p]
        try:
            # Generic registry surface (beyond-reference): every
            # declared query whose builder launches no job
            # (QUERIES - MATERIALIZING) is servable, so a reference
            # user gains the engine over the same wire format.
            #   GET /api/queries            → {"queries": [names...]}
            #   GET /api/queries/{name}[?limit=N]
            if parts[:2] == ["api", "queries"] and self.registry_ctx:
                spark, sf_dir = self.registry_ctx
                from kafka_streams_pipeline_spark import inventory

                servable = set(inventory.QUERIES) - inventory.MATERIALIZING
                if len(parts) == 2:
                    self._reply(200, {"queries": sorted(servable)})
                    return
                name = parts[2]
                # GET /api/queries/{name}/explain[?mode=formatted] —
                # the OBSERVABILITY route: returns the physical plan.
                # Only unflagged queries can be explained, and their
                # builders launch no job beyond parquet schema
                # inference (tests/test_serving.py measures this);
                # explain itself is plan compilation only.
                if len(parts) == 4 and parts[3] == "explain":
                    if name not in servable:
                        self._reply(
                            404,
                            {"errorMessage": "unknown query",
                             "errorCode": 404},
                        )
                        return
                    mode = q.get("mode", "formatted")
                    if mode not in (
                        "simple", "extended", "formatted", "cost",
                    ):
                        raise QueryValidationError(
                            "mode must be one of simple|extended|"
                            "formatted|cost"
                        )
                    df = inventory.QUERIES[name](spark, sf_dir)
                    jmode = (
                        df._sc._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString(mode)
                    )
                    plan = df._jdf.queryExecution().explainString(jmode)
                    self._reply(
                        200, {"query": name, "mode": mode, "plan": plan}
                    )
                    return
                if len(parts) != 3 or name not in servable:
                    self._reply(
                        404,
                        {"errorMessage": "unknown query", "errorCode": 404},
                    )
                    return
                limit = int(q.get("limit", "100"))
                if not 1 <= limit <= 10_000:
                    raise QueryValidationError(
                        "limit must be in [1, 10000]"
                    )
                df = inventory.QUERIES[name](spark, sf_dir).limit(limit)
                self._reply(200, to_message(df))
                return
            if (
                len(parts) != 5
                or parts[:3] != ["api", "temperature", "aggregate"]
                or parts[4] not in ("history", "snapshot")
            ):
                self._reply(404, {"errorMessage": "not found", "errorCode": 404})
                return
            op, kind = parts[3], parts[4]
            precision = int(q.get("gh_precision", "6"))
            if kind == "history":
                cells = q.get("geohashes", "")
                interval = q.get("interval")
                if interval is not None:
                    df = history_interval(
                        self.view, op, cells, interval,
                        to_ts=_ms_to_dt(int(q["from"])) if "from" in q else None,
                        precision=precision,
                    )
                else:
                    df = history(
                        self.view, op, cells,
                        from_ts=_ms_to_dt(int(q.get("from", "-1"))),
                        to_ts=_ms_to_dt(int(q.get("to", "-1"))),
                        precision=precision,
                    )
            else:
                if "ts" not in q:
                    raise QueryValidationError("snapshot requires `ts` (epoch ms)")
                if "bbox" not in q:
                    raise QueryValidationError("snapshot requires `bbox` (N,W,S,E)")
                ts = _ms_to_dt(int(q["ts"]))
                if ts is None:
                    raise QueryValidationError("invalid `ts`")
                df = snapshot(
                    self.view, op, ts, validate_bbox(q["bbox"]), precision=precision
                )
            self._reply(200, to_message(df))
        except QueryValidationError as e:
            self._reply(400, {"errorMessage": str(e), "errorCode": 400})
        except (ValueError, KeyError) as e:
            self._reply(400, {"errorMessage": f"bad parameter: {e}", "errorCode": 400})
        except Exception as e:  # engine failure → 500 (QueryingService.java:49-54)
            self._reply(500, {"errorMessage": str(e), "errorCode": 500})


def serve(
    view: DataFrame,
    host: str = "0.0.0.0",
    port: int = 7070,
    spark=None,
    sf_dir: str | None = None,
) -> ThreadingHTTPServer:
    """Start the API over a view DataFrame (default port mirrors the
    reference's Docker default, Dockerfile:26-27). Returns the server;
    call .shutdown() to stop. Runs in a daemon thread.

    Pass ``spark`` + ``sf_dir`` to additionally expose the declared
    query registry at ``/api/queries[/{name}?limit=N]`` — the
    beyond-reference serving surface. Every request EXECUTES the
    query server-side (limit=N truncates the result, not the
    compute). Queries registered with ``materializes=True``
    (``inventory.MATERIALIZING``: builders that launch Spark jobs,
    such as streaming replays, temp-store writes and iterative
    trainers) are neither listed nor served, and their ``/explain``
    returns 404."""
    ctx = (spark, sf_dir) if spark is not None and sf_dir else None
    handler = type(
        "BoundHandler",
        (QueryHandler,),
        {"view": view, "registry_ctx": ctx},
    )
    server = ThreadingHTTPServer((host, port), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
