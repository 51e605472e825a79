"""Thin HTTP service surface (SURVEY §2.5 V1/V2/V4).

The reference serves /query and /transact over EDN with a message-queue
hop to worker pools (src/unifydb/server.clj:20-40; queue RPC
src/unifydb/util.clj:39-57). On Spark the driver *is* the coordinator and
executors are the worker pool, so the queue disappears; this module keeps
the request/response shapes (JSON in place of EDN) on the standard
library's threading HTTP server — no web-framework dependency.

POST /query    {"query": {...}, "tx-id": <int|"latest">, "historical": bool}
               -> {"results": [[...], ...], "columns": [...]}
POST /transact {"tx-data": [...]}
               -> {"tx-id": int, "tempids": {...}, "tx-data": [...]}
Errors        -> 400 {"error": {"code": ..., "message": ...}}
               (the reference's structured error payload,
               src/unifydb/query.clj:505-517) for query errors, bad
               values and queries Spark rejects as ill-typed or invalid
               for their data; any other failure is a 500 {"error": {"code":
               "internal-error", ...}} whose traceback goes to the log

Content negotiation (V4, reference wrap-content-type / wrap-accept-type,
server.clj:54-81): requests may be application/json or application/edn
(any other Content-Type -> 400, like the reference); responses follow the
Accept header — application/edn gets EDN, application/json gets JSON.
Divergence: the default (missing Accept or */*) is JSON here, where the
reference defaults to EDN — this is an analytics service and every other
surface speaks JSON.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.errors import PySparkException

from unifydb_spark import structlog
from unifydb_spark.query.parse import QueryError
from unifydb_spark.values import decode_json_value, jsonable


def _normalize_query(q):
    """JSON arrays arrive as lists; call positions (predicates, fn heads,
    rule applications) need to be tuples for the parser. Convention:
    a list whose first element is ["fn", ...] i.e. nested-list head, or a
    find element tagged with '(' ... — instead we accept the unambiguous
    JSON encoding {"$call": ["fn", arg...]} anywhere a tuple is needed."""

    def walk(x):
        if isinstance(x, dict) and "$call" in x:
            return tuple(walk(i) for i in x["$call"])
        if isinstance(x, dict):
            return {k: walk(v) for k, v in x.items()}
        if isinstance(x, list):
            return [walk(i) for i in x]
        return x

    return walk(decode_json_value(q))


class EngineHandler(BaseHTTPRequestHandler):
    engine = None  # set by make_server
    secret = None  # set when auth is enabled (V3)
    require_auth = False
    cache = None

    def log_message(self, *args):  # quiet
        pass

    def _auth_map(self):
        from unifydb_spark.auth import validate_token

        hdr = self.headers.get("Authorization", "")
        if not hdr.startswith("Bearer "):
            return None
        return validate_token(hdr[7:], self.secret)

    def do_GET(self):
        """GET /authenticate?username=... -> salt + nonce challenge
        (reference login-get-salt-handler, auth.clj:57-81)."""
        from urllib.parse import parse_qs, urlparse

        from unifydb_spark.auth import login_challenge

        u = urlparse(self.path)
        if u.path != "/authenticate" or self.secret is None:
            return self._send(404, {"error": {"code": "not-found",
                                              "message": u.path}})
        username = (parse_qs(u.query).get("username") or [None])[0]
        if not username:
            return self._send(400, {"error": {"code": "bad-request",
                                              "message": "Invalid 'username' parameter"}})
        challenge = login_challenge(self.engine, self.cache, username)
        if challenge is None:
            return self._send(400, {"error": {"code": "bad-request",
                                              "message": "Invalid 'username' parameter"}})
        return self._send(200, challenge)

    def _accept_type(self) -> str:
        """Response format per Accept header: 'edn', 'json', or '' for
        unsupported (reference wrap-accept-type -> 400)."""
        accept = (self.headers.get("Accept") or "*/*").split(";")[0].strip().lower()
        if accept == "application/edn":
            return "edn"
        if accept in ("application/json", "*/*", ""):
            return "json"
        return ""

    def _send(self, code: int, payload: dict, fmt: str = None):
        from unifydb_spark import edn

        fmt = fmt or getattr(self, "_fmt", "json")
        if fmt == "edn":
            body = edn.dumps(payload).encode("utf-8")
            ctype = "application/edn"
        else:
            body = json.dumps(jsonable(payload)).encode("utf-8")
            ctype = "application/json"
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        from unifydb_spark import edn

        fmt = self._accept_type()
        self._fmt = fmt or "json"
        if not fmt:
            return self._send(
                400,
                {"error": {"code": "bad-request",
                           "message": "Unsupported accept type "
                                      + (self.headers.get("Accept") or "")}},
            )
        ctype = (self.headers.get("Content-Type") or "application/json")
        ctype = ctype.split(";")[0].strip().lower()
        try:
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n)
            if ctype == "application/edn":
                req = edn.loads(raw.decode("utf-8") or "{}")
            elif ctype == "application/json":
                req = json.loads(raw or b"{}")
            else:  # reference wrap-content-type: unsupported -> 400
                return self._send(
                    400,
                    {"error": {"code": "bad-request",
                               "message": f"Unsupported content type {ctype}"}},
                )
        except (ValueError, TypeError):
            return self._send(400, {"error": {"code": "bad-request",
                                              "message": "invalid request body"}})
        if not isinstance(req, dict):
            return self._send(400, {"error": {"code": "bad-request",
                                              "message": "request body must be a map"}})
        try:
            if self.path == "/authenticate" and self.secret is not None:
                from unifydb_spark.auth import login

                token = login(
                    self.engine, self.cache, self.secret,
                    req.get("username") or "",
                    req.get("password") or "",
                    req.get("nonce-key") or "",
                    req.get("nonce") or "",
                )
                if token is None:
                    return self._send(
                        400,
                        {"error": {"code": "bad-request",
                                   "message": "Invalid username, password, or nonce"}},
                    )
                return self._send(200, {"username": req.get("username"),
                                        "token": token})
            if self.require_auth and self.path in ("/query", "/transact"):
                auth = self._auth_map()
                if auth is None:  # reference wrap-jwt-auth -> 401
                    return self._send(401, {"error": {"code": "access-denied",
                                                      "message": "Access denied"}})
            if self.path == "/query":
                q = _normalize_query(req.get("query") or {})
                db = self.engine.db(
                    req.get("tx-id", "latest"), bool(req.get("historical", False))
                )
                from unifydb_spark.engine import decode_rows
                from unifydb_spark.resources import persist_scope

                # results are materialized inside the scope; its exit drops
                # only THIS request's operator-internal caches — a global
                # drain would evict caches concurrent in-flight queries
                # (other handler threads) are still using
                with persist_scope():
                    df, reprs = self.engine.compile(q, db)
                    rows = decode_rows(df, reprs)
                return self._send(200, {"columns": df.columns, "results": rows})
            if self.path == "/transact":
                report = self.engine.transact(
                    _normalize_query(req.get("tx-data") or [])
                )
                return self._send(
                    200,
                    {
                        "tx-id": report["tempids"].get("unifydb.tx"),
                        "tempids": report["tempids"],
                        "tx-data": report["tx_data"],
                    },
                )
            return self._send(404, {"error": {"code": "not-found",
                                              "message": self.path}})
        except QueryError as e:
            return self._send(
                400,
                {"error": {"code": e.code, "message": str(e), **e.info}},
            )
        except Exception as e:
            if _bad_request(e):
                return self._send(400, {"error": {"code": "error", "message": str(e)}})
            # a server fault: logged, never sent to the client
            structlog.error("request failed", _err=e, path=self.path)
            return self._send(500, {"error": {"code": "internal-error",
                                              "message": "internal error"}})


def _bad_request(e: Exception) -> bool:
    """A bad value, or a query that fails Spark's analysis or a data check
    (SQLSTATE class 42 or 22, e.g. ill-typed function arguments), is the
    client's fault; anything else is the server's."""
    if isinstance(e, (ValueError, TypeError)):
        return True
    state = e.getSqlState() if isinstance(e, PySparkException) else None
    return (state or "")[:2] in ("22", "42")


def make_server(
    engine,
    host: str = "127.0.0.1",
    port: int = 0,
    secret: bytes = None,
    require_auth: bool = False,
):
    """Build (but don't start) the HTTP server; port=0 picks a free port.
    Passing `secret` enables /authenticate (V3); `require_auth` guards
    /query and /transact with Bearer tokens (reference wrap-jwt-auth)."""
    from unifydb_spark.cache import TTLCache

    handler = type(
        "BoundHandler",
        (EngineHandler,),
        {
            "engine": engine,
            "secret": secret,
            "require_auth": require_auth and secret is not None,
            "cache": TTLCache(),
        },
    )
    return ThreadingHTTPServer((host, port), handler)


def serve_background(
    engine,
    host: str = "127.0.0.1",
    port: int = 0,
    secret: bytes = None,
    require_auth: bool = False,
):
    """Start the server on a daemon thread; returns (server, port)."""
    srv = make_server(engine, host, port, secret=secret, require_auth=require_auth)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
