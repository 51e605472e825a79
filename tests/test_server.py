"""HTTP surface tests (reference test/unifydb/server_test.clj shapes):
/transact then /query round-trip, structured errors, 404."""

import json
import http.client

import pytest

from unifydb_spark import Engine, FactStore
from unifydb_spark.server import serve_background


@pytest.fixture(scope="module")
def srv(spark):
    eng = Engine(spark, FactStore(spark))
    server, port = serve_background(eng)
    yield port
    server.shutdown()


def _post(port, path, payload):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    conn.request("POST", path, json.dumps(payload),
                 {"Content-Type": "application/json"})
    resp = conn.getresponse()
    body = json.loads(resp.read())
    conn.close()
    return resp.status, body


def test_transact_then_query(srv):
    status, rep = _post(srv, "/transact", {
        "tx-data": [["add", "ben", ":name", "Ben"],
                    ["add", "ben", ":salary", 60000]],
    })
    assert status == 200
    assert "ben" in rep["tempids"]
    assert rep["tx-id"] == rep["tempids"]["unifydb.tx"]

    status, res = _post(srv, "/query", {
        "query": {"find": ["?e", "?s"],
                  "where": [["?e", ":name", "Ben"], ["?e", ":salary", "?s"]]},
    })
    assert status == 200
    assert res["columns"] == ["e", "s"]
    assert res["results"] == [[{"$ref": rep["tempids"]["ben"]}, 60000]]


def test_query_with_call_encoding(srv):
    # predicates/tuples travel as {"$call": [...]} in JSON
    status, res = _post(srv, "/query", {
        "query": {"find": ["?s"],
                  "where": [["?e", ":salary", "?s"],
                            [{"$call": [">", "?s", 1000]}]]},
    })
    assert status == 200
    assert res["results"] == [[60000]]


def test_structured_error(srv):
    status, res = _post(srv, "/query", {
        "query": {"find": ["?x"], "where": [[("nope", "?x")]]},
    })
    assert status == 400
    assert "error" in res and res["error"]["code"]


def test_unknown_fn_error(srv):
    status, res = _post(srv, "/query", {
        "query": {"find": ["?s"],
                  "where": [["?e", ":salary", "?s"],
                            [{"$call": ["*foo", "?s", 2]}, "?t"]]},
    })
    assert status == 400
    assert res["error"]["code"] == "unknown-function"


def test_404(srv):
    status, res = _post(srv, "/nope", {})
    assert status == 404


def _post_raw(port, path, body, headers):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    conn.request("POST", path, body, headers)
    resp = conn.getresponse()
    raw = resp.read().decode("utf-8")
    ctype = resp.getheader("Content-Type")
    conn.close()
    return resp.status, ctype, raw


def test_edn_round_trip(srv):
    """V4 content negotiation (reference server.clj:54-81): EDN in, EDN
    out — predicates are naturally EDN lists (no $call wrapper), refs are
    tagged literals."""
    from unifydb_spark import edn
    from unifydb_spark.values import Ref

    q = '{:query {:find [?e ?s] :where [[?e :name "Ben"] [?e :salary ?s] [(> ?s 1000)]]}}'
    status, ctype, raw = _post_raw(
        srv, "/query", q,
        {"Content-Type": "application/edn", "Accept": "application/edn"},
    )
    assert status == 200 and ctype == "application/edn"
    out = edn.loads(raw)
    assert out["columns"] == ["e", "s"]
    [[ref, sal]] = out["results"]
    assert isinstance(ref, Ref) and sal == 60000


def test_edn_in_json_out(srv):
    q = '{:query {:find [?s] :where [[_ :salary ?s]]}}'
    status, ctype, raw = _post_raw(
        srv, "/query", q,
        {"Content-Type": "application/edn", "Accept": "application/json"},
    )
    assert status == 200 and ctype == "application/json"
    assert json.loads(raw)["results"] == [[60000]]


def test_unsupported_content_type_400(srv):
    status, _, raw = _post_raw(
        srv, "/query", "<query/>", {"Content-Type": "text/xml"},
    )
    assert status == 400
    assert "Unsupported content type" in raw


def test_unsupported_accept_400(srv):
    status, _, raw = _post_raw(
        srv, "/query", "{}",
        {"Content-Type": "application/json", "Accept": "text/csv"},
    )
    assert status == 400
    assert "Unsupported accept type" in raw


def test_query_compiles_once(spark):
    """/query compiles each request once and decodes that result: a
    second compile would re-run a recursive rule's whole fixpoint."""
    from unifydb_spark.values import Ref

    eng = Engine(spark, FactStore(spark).seed(
        [(i, ":parent", Ref(i + 1), 0, True) for i in range(1, 5)]
    ))
    compiles = []
    compile_once = eng.compile

    def counted(*args, **kwargs):
        compiles.append(1)
        return compile_once(*args, **kwargs)

    eng.compile = counted
    server, port = serve_background(eng)
    try:
        status, res = _post(port, "/query", {"query": {
            "find": ["?y"],
            "where": [{"$call": ["anc", {"$ref": 1}, "?y"]}],
            "rules": [
                [{"$call": ["anc", "?x", "?y"]}, ["?x", ":parent", "?y"]],
                [{"$call": ["anc", "?x", "?y"]}, ["?x", ":parent", "?z"],
                 {"$call": ["anc", "?z", "?y"]}],
            ],
        }})
    finally:
        server.shutdown()
    assert status == 200, res
    assert res["columns"] == ["y"]
    assert sorted(r[0]["$ref"] for r in res["results"]) == [2, 3, 4, 5]
    assert len(compiles) == 1


def test_internal_error_is_500_without_details(spark, monkeypatch):
    import io

    from unifydb_spark import structlog

    eng = Engine(spark, FactStore(spark))

    def boom(q, db=None):
        raise RuntimeError("secret detail")

    monkeypatch.setattr(eng, "compile", boom)
    log = io.StringIO()
    monkeypatch.setitem(structlog._STATE, "stream", log)
    server, port = serve_background(eng)
    try:
        status, res = _post(port, "/query", {"query": {"find": ["?x"],
                                                       "where": [["?x", ":a", 1]]}})
    finally:
        server.shutdown()
    assert status == 500
    assert res == {"error": {"code": "internal-error", "message": "internal error"}}
    assert "RuntimeError: secret detail" in log.getvalue()
    assert "Traceback" in log.getvalue()


def test_non_map_body_is_400(srv):
    status, res = _post(srv, "/query", [1, 2])
    assert status == 400
    assert res["error"]["code"] == "bad-request"


def test_ill_typed_query_is_400(srv):
    # `join` reads a JSON vector; a long column fails Spark's analysis,
    # which is the query's fault, not the server's
    status, _ = _post(srv, "/transact", {"tx-data": [["add", "n", ":n", 1]]})
    assert status == 200
    status, res = _post(srv, "/query", {
        "query": {"find": ["?r"],
                  "where": [["?e", ":n", "?n"],
                            [{"$call": ["join", ",", "?n"]}, "?r"]]},
    })
    assert status == 400
    assert "DATATYPE_MISMATCH" in res["error"]["message"]


def test_non_ground_vector_rule_argument_is_400(srv):
    # a vector constant must be ground wherever it appears; a rule call
    # holding a variable inside one is the query's fault
    status, res = _post(srv, "/query", {
        "query": {"find": ["?e"],
                  "rules": [[{"$call": ["r", "?e", "?v"]}, ["?e", ":name", "?v"]]],
                  "where": [{"$call": ["r", "?e", ["?x", 1]]}]},
    })
    assert status == 400
    assert res["error"]["code"] == "invalid-query"
