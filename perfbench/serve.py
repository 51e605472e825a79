"""`serve_mixed`: the HTTP server over a durable commit-log store.

Three client threads run closed loops against `server.serve_background`,
each from its own seeded script of rounds. A round is every operation kind
once in a seeded order: three writes (map-form create, cardinality-one
update, cardinality-many retraction) and six reads (point lookup, ref
join, as-of a past acknowledged tx, historical with tx/added bound,
aggregate over a cardinality-many attribute, nested pull). A run of a
given length is a fixed number of rounds, so every run does the same
work with the same mix. Every read names an explicit tx-id, so after the run it is checked
against a Python model of the acknowledged writes (`Model`), which applies
the store's visibility rules independently: tx <= as-of, a retraction
outranks an assert in the same tx, cardinality-one keeps the live value of
the latest tx. A fresh `LogParquetBackend` handle on the same path must
then return every acknowledged fact, and all tx-ids must be distinct.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import threading
import time
from collections import defaultdict

CLIENTS = 3
CITIES = 8
TAGS = 12
SEED_TXS = 48
PERSONS_PER_SEED_TX = 5
# commits between checkpoints: a measured run of ~10-30 writes crosses
# several (txlog.LogParquetBackend maintain_every)
MAINTAIN_EVERY = 4
# nominal seconds of one round of three clients on a 4-core host
ROUND_S = 10
READS = ("point", "ref_join", "as_of", "historical", "aggregate", "pull")
WRITES = ("create", "update", "retract")
MANY = {"person/tag"}


class Model:
    """The acknowledged facts and the store's visibility rules."""

    def __init__(self):
        self.facts: list[tuple] = []  # (e, a, v, tx, added)
        self.lock = threading.Lock()

    def add(self, facts) -> None:
        with self.lock:
            self.facts.extend(facts)

    def snapshot(self, tx: int) -> dict:
        """{(e, a): [live values]} as of `tx`."""
        last: dict = {}
        for e, a, v, t, added in self.facts:
            if t > tx:
                continue
            key = (e, a, v)
            # latest tx wins; within one tx a retraction outranks an assert
            if key not in last or (t, not added) > (last[key][0], not last[key][1]):
                last[key] = (t, added)
        live: dict = defaultdict(list)
        for (e, a, v), (t, added) in last.items():
            if added:
                live[(e, a)].append((t, v))
        out = {}
        for (e, a), tv in live.items():
            if a in MANY:
                out[(e, a)] = [v for _, v in tv]
            else:
                out[(e, a)] = [max(tv, key=lambda x: x[0])[1]]
        return out

    def expected(self, read: dict):
        tx = read["tx"]
        if read["kind"] == "historical":
            people = {e for e, a, v, t, _ in self.facts
                      if a == "person/name" and v == read["name"] and t <= tx}
            # the tx position binds the transaction's entity id
            return [[v, {"$ref": t}, added] for e, a, v, t, added in self.facts
                    if e in people and a == "person/age" and t <= tx]
        snap = self.snapshot(tx)

        def ents(attr, value):
            return [e for (e, a), vs in snap.items() if a == attr and value in vs]

        kind = read["kind"]
        if kind in ("point", "as_of"):
            return [[age] for p in ents("person/name", read["name"])
                    for age in snap.get((p, "person/age"), [])]
        if kind == "ref_join":
            return [[name] for c in ents("city/name", read["city"])
                    for p in ents("person/city", c)
                    for name in snap.get((p, "person/name"), [])]
        if kind == "aggregate":
            counts: dict = defaultdict(int)
            for (e, a), vs in snap.items():
                if a == "person/tag":
                    for v in vs:
                        counts[v] += 1
            return [[t, n] for t, n in counts.items()]
        if kind == "pull":
            out = []
            for p in ents("person/name", read["name"]):
                doc = {"person/name": read["name"]}
                for c in snap.get((p, "person/city"), []):
                    doc["person/city"] = {"city/name": snap[(c, "city/name")][0]}
                out.append([doc])
            return out
        raise ValueError(kind)


def _canon(rows) -> list:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def query_for(read: dict) -> dict:
    """The /query request body of one read."""
    name_age = [["?p", ":person/name", read.get("name")],
                ["?p", ":person/age", "?age"]]
    kind = read["kind"]
    if kind in ("point", "as_of"):
        q = {"find": ["?age"], "where": name_age}
    elif kind == "ref_join":
        q = {"find": ["?name"],
             "where": [["?c", ":city/name", read["city"]],
                       ["?p", ":person/city", "?c"],
                       ["?p", ":person/name", "?name"]]}
    elif kind == "historical":
        q = {"find": ["?age", "?tx", "?added"],
             "where": [["?p", ":person/name", read["name"]],
                       ["?p", ":person/age", "?age", "?tx", "?added"]]}
    elif kind == "aggregate":
        q = {"find": ["?tag", {"$call": ["count", "?p", "n"]}],
             "where": [["?p", ":person/tag", "?tag"]]}
    else:
        q = {"find": [{"$call": ["pull", "?p", ["person/name",
                                               {"person/city": ["city/name"]}],
                                 "doc"]}],
             "where": [["?p", ":person/name", read["name"]]]}
    return {"query": q, "tx-id": read["tx"], "historical": kind == "historical"}


def _person(rng, label: str, tempid: str, cities: list) -> list:
    stmts = [{"unifydb/id": tempid, "person/name": f"Person {label}",
              "person/age": rng.randint(18, 80),
              "person/city": {"$ref": cities[rng.randrange(len(cities))]}}]
    for tag in rng.sample(range(TAGS), rng.randint(1, 3)):
        stmts.append(["add", tempid, "person/tag", f"tag-{tag}"])
    return stmts


def _facts_of(stmts: list, tempids: dict, tx: int) -> list:
    """Model facts of statements as acknowledged with `tempids`/`tx`."""
    out = []
    for s in stmts:
        if isinstance(s, dict):
            e = tempids[s["unifydb/id"]]
            for a, v in s.items():
                if a != "unifydb/id":
                    out.append((e, a, v["$ref"] if isinstance(v, dict) else v, tx, True))
        else:
            e = tempids.get(s[1], s[1]) if isinstance(s[1], str) else s[1]
            out.append((e, s[2], s[3], tx, s[0] == "add"))
    return out


class Serve:
    """One seeded store + server; `run()` drives the clients."""

    def __init__(self, ctx, path: str):
        from unifydb_spark import Engine, FactStore, server
        from unifydb_spark.txlog import LogParquetBackend

        self.ctx = ctx
        self.path = path
        self.model = Model()
        self.rng = random.Random(ctx.seed)
        # seed through a maintenance-free handle, then compact once
        seeder = LogParquetBackend(ctx.spark, path)
        store = FactStore(ctx.spark, backend=seeder)
        self.seed_txs: list[int] = []
        self._commit_local(store, [{"unifydb/id": "s", "unifydb/schema": "person/tag",
                                    "unifydb/cardinality": "cardinality/many"}])
        rep = self._commit_local(store, [{"unifydb/id": f"c{i}", "city/name": f"City {i}"}
                                         for i in range(CITIES)])
        self.cities = [rep["tempids"][f"c{i}"] for i in range(CITIES)]
        self.owned: list[list] = [[] for _ in range(CLIENTS)]
        self.names: list[str] = []
        n = 0
        for _ in range(SEED_TXS):
            stmts, labels = [], []
            for j in range(PERSONS_PER_SEED_TX):
                stmts += _person(self.rng, str(n), f"p{j}", self.cities)
                labels.append((f"p{j}", n))
                n += 1
            rep = self._commit_local(store, stmts)
            for tid, k in labels:
                e = rep["tempids"][tid]
                self.owned[k % CLIENTS].append(e)
                self.names.append(f"Person {k}")
        seeder.checkpoint()
        self.backend = LogParquetBackend(ctx.spark, path, maintain_every=MAINTAIN_EVERY)
        self.engine = Engine(ctx.spark, FactStore(ctx.spark, backend=self.backend))
        self.server, self.port = server.serve_background(self.engine)
        self.person_tags: dict = defaultdict(set)
        self.person_names: dict = {}
        for e, a, v, _, added in self.model.facts:
            if a == "person/tag":
                self.person_tags[e].add(v)
            if a == "person/name":
                self.person_names[e] = v
        self.latest = max(self.seed_txs)
        self.lock = threading.Lock()

    def _commit_local(self, store, stmts):
        local = [dict(s, **{k: _ref(v) for k, v in s.items() if isinstance(v, dict)})
                 if isinstance(s, dict) else s for s in stmts]
        rep = store.transact(local)
        tx = rep["tempids"]["unifydb.tx"]
        self.seed_txs.append(tx)
        self.model.add(_facts_of(stmts, rep["tempids"], tx))
        return rep

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        shutil.rmtree(self.path, ignore_errors=True)

    # ---- HTTP ----------------------------------------------------------

    def _post(self, route: str, body: dict, op: str, span: int | None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            headers = {"Content-Type": "application/json", "X-Perfbench-Op": op}
            if span is not None:
                headers["X-Perfbench-Span"] = str(span)
            conn.request("POST", route, json.dumps(body), headers)
            resp = conn.getresponse()
            payload = json.loads(resp.read())
            return resp.status, payload
        finally:
            conn.close()

    # ---- one client ----------------------------------------------------

    def _script(self, client: int, rounds: int) -> list:
        """Rounds of every write and read kind once, each in a seeded
        order: a third writes, and every kind equally often."""
        rng = random.Random(self.ctx.seed * 7919 + client)
        script = []
        for _ in range(rounds):
            kinds = list(WRITES + READS)
            rng.shuffle(kinds)
            script.append([(kind, rng.random(), rng.random()) for kind in kinds])
        return script

    def _intent(self, client: int, kind: str, r1: float, r2: float, created: list,
                own_txs: list) -> dict:
        """Resolve a script step against this client's own history (its
        persons and acknowledged txs), so the step is the same on every
        run that reaches it."""
        mine = self.owned[client] + created
        if kind == "create":
            rng = random.Random(int(r1 * 2**31))
            return {"kind": kind,
                    "stmts": _person(rng, f"{client}-{len(created)}", "np", self.cities)}
        if kind == "update":
            e = mine[int(r1 * len(mine))]
            return {"kind": kind, "stmts": [["add", e, "person/age", 18 + int(r2 * 62)]]}
        if kind == "retract":
            cands = [e for e in mine if self.person_tags[e]]
            e = cands[int(r1 * len(cands))]
            tag = sorted(self.person_tags[e])[int(r2 * len(self.person_tags[e]))]
            return {"kind": kind, "stmts": [["retract", e, "person/tag", tag]]}
        with self.lock:
            latest = self.latest
        name = self.names[int(r1 * len(self.names))]
        read = {"kind": kind, "tx": latest, "name": name}
        if kind in ("as_of", "historical"):
            e = mine[int(r1 * len(mine))]
            read["name"] = self.person_names[e]
            past = self.seed_txs + own_txs
            read["tx"] = past[int(r2 * len(past))]
        elif kind == "ref_join":
            read["city"] = f"City {int(r2 * CITIES)}"
        return read

    def client(self, client: int, records: list, script: list):
        created: list = []
        own_txs: list = []
        for i, (kind, r1, r2) in enumerate(step for rnd in script for step in rnd):
            it = self._intent(client, kind, r1, r2, created, own_txs)
            op = f"sv-{self.ctx.phase}-{client}-{i}"
            rec = {"op": op, "kind": "write" if kind in WRITES else "query",
                   "name": kind, "client": client, "ok": False}
            t0 = time.time()
            try:
                with self.ctx.span("op", op=op) as sp:
                    sid = sp["id"] if sp else None
                    if rec["kind"] == "write":
                        status, body = self._post("/transact", {"tx-data": it["stmts"]}, op, sid)
                    else:
                        status, body = self._post("/query", query_for(it), op, sid)
            except (OSError, http.client.HTTPException, ValueError) as exc:
                status, body = 0, {"error": repr(exc)}
            rec["t0"], rec["t1"] = t0, time.time()
            rec["status"] = status
            if status != 200:
                rec["error"] = body.get("error")
                records.append(rec)
                continue
            if rec["kind"] == "write":
                tx = body["tx-id"]
                facts = _facts_of(it["stmts"], body["tempids"], tx)
                self.model.add(facts)
                rec["tx"] = tx
                rec["ok"] = _ack_matches(facts, body["tx-data"])
                own_txs.append(tx)
                with self.lock:
                    self.latest = max(self.latest, tx)
                for e, a, v, _, added in facts:
                    if a == "person/tag":
                        (self.person_tags[e].add if added else self.person_tags[e].discard)(v)
                    elif a == "person/name":
                        self.person_names[e] = v
                if kind == "create":
                    created.append(body["tempids"]["np"])
            else:
                rec["read"] = it
                rec["results"] = body["results"]
                rec["ok"] = True
            records.append(rec)

    def _clients(self, scripts: list) -> list:
        records: list = []

        def client(c, script):
            try:
                self.client(c, records, script)
            except Exception as exc:  # a broken client is a failed op, not a hang
                records.append({"op": f"sv-{self.ctx.phase}-{c}-crash", "kind": "query",
                                "name": "client", "client": c, "ok": False,
                                "t0": time.time(), "t1": time.time(), "error": repr(exc)})

        threads = [threading.Thread(target=client, args=(c, script))
                   for c, script in enumerate(scripts)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records

    def warmup(self) -> list:
        """Every write and read kind once, spread over the clients."""
        kinds = [(k, 0.5, 0.5) for k in WRITES + READS]
        return self._clients([[kinds[c::CLIENTS]] for c in range(CLIENTS)])

    def run(self, seconds: float) -> list:
        """One round per ROUND_S of `seconds` (at least one) per client."""
        rounds = max(1, round(seconds / ROUND_S))
        return self._clients([self._script(c, rounds) for c in range(CLIENTS)])

    # ---- checks ----------------------------------------------------------

    def verify(self, records: list, corrupt: bool = False) -> None:
        """Mark each read whose results differ from the model as failed.
        `corrupt` perturbs the first expected answer (benchmark self-test)."""
        for rec in records:
            if rec["kind"] != "query" or not rec["ok"]:
                continue
            want = self.model.expected(rec["read"])
            if corrupt:
                want = want + [["corrupted"]]
                corrupt = False
            if _canon(rec["results"]) != _canon(want):
                rec["ok"] = False
                rec["error"] = {"mismatch": {"got": rec["results"][:5], "want": want[:5]}}

    def durability(self, acked: list) -> list:
        """Problems found by a fresh handle on the store's path."""
        from unifydb_spark import FactStore
        from unifydb_spark.txlog import LogParquetBackend

        problems = []
        if len(set(acked)) != len(acked):
            problems.append("duplicate tx-ids among acknowledged writes")
        fresh = FactStore(self.ctx.spark, backend=LogParquetBackend(self.ctx.spark, self.path))
        stored = set()
        for r in fresh.facts().collect():
            v = next((r[c] for c in ("v_ref", "v_long", "v_str", "v_double", "v_bool")
                      if r[c] is not None), None)
            stored.add((r["e"], r["a"], v, r["tx"], r["added"]))
        missing = [f for f in self.model.facts if f not in stored]
        if missing:
            problems.append(f"{len(missing)} acknowledged facts missing, e.g. {missing[:3]}")
        return problems

    def data_files(self) -> dict:
        """{data file name: bytes} of the store."""
        data = os.path.join(self.path, "data")
        return {f: os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)
                if f.endswith(".parquet")}

    def store_stats(self) -> dict:
        files = self.data_files()
        log = os.path.join(self.path, "_txlog")
        return {
            "data_files": len(files),
            "data_bytes": sum(files.values()),
            "manifests": sum(1 for f in os.listdir(log) if f.endswith(".json")),
            "facts": len(self.model.facts),
        }


def _ref(v):
    from unifydb_spark.values import Ref

    return Ref(v["$ref"])


def _ack_matches(facts: list, tx_data: list) -> bool:
    """The tx report lists exactly the acknowledged facts (plus the
    tx-instant fact the transactor adds)."""
    got = {(f[0], f[1], f[2]["$ref"] if isinstance(f[2], dict) else f[2], f[3], f[4])
           for f in tx_data if f[1] != "unifydb/txInstant"}
    return got == set(facts)
