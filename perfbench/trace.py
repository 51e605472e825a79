"""In-memory span tracer for the benchmark's traced runs.

A span is (op id, span id, parent id, name, start, end). The tracer wraps
public functions of the system at the names their callers bind (module
attributes and class methods), so a traced run needs no change to the
program: `install()` patches, `uninstall()` restores. Spans of one
operation share its op id, which is also the Spark job group the
operation's jobs run under; after the run, `job_rows()` reads each job's
submission time and stage counters from Spark's status store and assigns
the job to the innermost span open at that time.

Counters (`count`) and accumulating timers (`timed`) attach to the
innermost open span of the calling thread, for calls too frequent to be
spans of their own.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.frames: dict[str, list] = defaultdict(list)  # op -> DataFrames
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple] = []

    # ---- spans ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self):
        """(op id, span id) of the innermost open span on this thread."""
        st = self._stack()
        return st[-1] if st else (None, None)

    @contextmanager
    def span(self, name: str, op: str | None = None, parent: int | None = None,
             **attrs):
        """Open a span. Outside any op (and without `op`) nothing is
        recorded, so wrapped calls made during setup cost one check."""
        cur_op, cur_id = self.current()
        op = op or cur_op
        if op is None:
            yield None
            return
        sid = next(self._ids)
        rec = {"op": op, "id": sid, "parent": parent or cur_id, "name": name,
               "t0": time.time(), "t1": None, **attrs}
        st = self._stack()
        st.append((op, sid))
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str, n: float = 1.0) -> None:
        _, sid = self.current()
        if sid is not None:
            with self._lock:
                self.counts[sid][key] += n

    def capture(self, df) -> None:
        """Keep a result DataFrame of the current op for its Catalyst
        phase times (read after the run)."""
        op, _ = self.current()
        if op is not None:
            with self._lock:
                self.frames[op].append(df)

    # ---- patching ------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def wrap(self, owner, attr: str, name: str, attrs=None, keep_result=False):
        """Record a span named `name` around every call of owner.attr.
        `attrs(args, kwargs)` may add fields to the span; `keep_result`
        captures a returned DataFrame (or the first item of a returned
        tuple) for Catalyst phases."""

        def wrapper(orig):
            def traced(*args, **kwargs):
                extra = attrs(args, kwargs) if attrs else {}
                with self.span(name, **extra):
                    out = orig(*args, **kwargs)
                    if keep_result:
                        self.capture(out[0] if isinstance(out, tuple) else out)
                    return out
            return traced

        self._patch(owner, attr, wrapper)

    def counter(self, owner, attr: str, key: str):
        """Count calls of owner.attr against the innermost open span."""

        def wrapper(orig):
            def counted(*args, **kwargs):
                self.count(key)
                return orig(*args, **kwargs)
            return counted

        self._patch(owner, attr, wrapper)

    def timed(self, owner, attr: str, key: str):
        """Accumulate the seconds spent in owner.attr on the innermost open
        span (for calls made once per result value)."""

        def wrapper(orig):
            def timer(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.count(key, time.perf_counter() - t0)
            return timer

        self._patch(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries of the system."""
    from unifydb_spark import engine, store, txlog
    from unifydb_spark.operators import graph
    from unifydb_spark.query import pull, rules

    # the names Engine.compile binds (engine.py imports them by name)
    tracer.wrap(engine, "parse_query", "parse")
    tracer.wrap(engine, "compile_where", "compile")
    tracer.wrap(engine, "process_find", "find")
    # imported inside Engine.compile / compile.py at call time
    tracer.wrap(pull, "attach_pulls", "pull")
    tracer.wrap(rules, "compile_rule_app", "rules")
    tracer.wrap(engine.Engine, "compile", "engine.compile", keep_result=True)
    tracer.wrap(engine.Engine, "query_rows", "engine.query_rows")
    tracer.timed(engine, "_decode", "decode_s")
    tracer.wrap(store.FactStore, "snapshot", "store.snapshot")
    tracer.wrap(store.FactStore, "cardinality_many_attrs", "store.meta")
    tracer.wrap(store.FactStore, "attr_types", "store.meta")
    tracer.wrap(store.FactStore, "transact", "store.transact")
    tracer.wrap(txlog.LogParquetBackend, "facts_df", "txlog.read")
    tracer.counter(txlog.LogParquetBackend, "_read_manifest", "manifests")
    tracer.wrap(txlog.LogParquetBackend, "commit_rows", "txlog.commit")
    tracer.wrap(txlog.LogParquetBackend, "maybe_maintain", "txlog.maintain")
    tracer.wrap(txlog.LogParquetBackend, "checkpoint", "txlog.checkpoint")
    # __spark_entry__ imports the graph operators at call time
    tracer.wrap(graph, "connected_components", "graph")
    tracer.wrap(graph, "pagerank", "graph",
                attrs=lambda a, k: {"supersteps": k.get("iters", a[1] if len(a) > 1 else 10)})


def job_rows(spark, ops) -> dict:
    """{op: [job dict]} from Spark's status store, for the job groups
    named by `ops`. A job dict has its submission time (epoch seconds) and
    the summed counters of its non-skipped stages."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for op in ops:
        jobs = []
        for jid in tracker.getJobIdsForGroup(op):
            jd = store.job(jid)
            sub = jd.submissionTime()
            job = {"id": jid, "t": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                   "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
                   "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
            sids = jd.stageIds()
            for i in range(sids.length()):
                try:
                    sd = store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:  # stage no longer in the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += sd.numTasks()
                job["run_ms"] += sd.executorRunTime()
                job["cpu_ms"] += sd.executorCpuTime() / 1e6
                job["shuffle_read"] += sd.shuffleReadBytes()
                job["shuffle_write"] += sd.shuffleWriteBytes()
                job["spill"] += sd.diskBytesSpilled()
            jobs.append(job)
        out[op] = jobs
    return out


def catalyst_ms(frames) -> dict:
    """Summed Catalyst phase times over the DataFrames an op produced."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    # a registry entry may return the very frame Engine.compile produced
    for df in {id(f): f for f in frames}.values():
        phases = df._jdf.queryExecution().tracker().phases()
        for k in out:
            p = phases.get(k)
            if p.isDefined():
                out[k] += p.get().durationMs()
    return out


def analyse(tracer: Tracer, jobs: dict) -> dict:
    """Per-op layer figures from the recorded spans and jobs.

    For each op: self and inclusive seconds, the time inside Engine calls
    (`engine`), call counts, jobs launched
    with the span innermost (`jobs_self`) or anywhere below it
    (`jobs_incl`), calls that launched no job (`zero_job_calls`), counters
    by span name (`counts_by`), and the op's wall time and the part of it
    no child span of the op's root covers (`uncovered`). Self time is a
    span's duration minus the union of its children's intervals;
    inclusive time counts a span once even when same-named spans nest.
    """
    by_op: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        by_op[s["op"]].append(s)
    result = {}
    for op, spans in by_op.items():
        ids = {s["id"]: s for s in spans}
        children = defaultdict(list)
        for s in spans:
            if s["parent"] in ids:
                children[s["parent"]].append(s)
        rec = {"self": defaultdict(float), "incl": defaultdict(float),
               "jobs_self": defaultdict(int), "jobs_incl": defaultdict(int),
               "calls": defaultdict(int), "zero_job_calls": defaultdict(int),
               "counts_by": defaultdict(lambda: defaultdict(float)),
               "wall": 0.0, "uncovered": 0.0,
               "engine": _covered([s for s in spans if s["name"].startswith("engine.")])}

        def lineage(s):
            out = []
            while s is not None:
                out.append(s)
                s = ids.get(s["parent"])
            return out

        span_jobs: dict = defaultdict(int)
        for job in jobs.get(op, []):
            inner = None
            for s in spans:
                if s["t0"] <= job["t"] <= s["t1"] and (inner is None or s["t0"] >= inner["t0"]):
                    inner = s
            if inner is None:
                continue
            rec["jobs_self"][inner["name"]] += 1
            line = lineage(inner)
            for s in line:
                span_jobs[s["id"]] += 1
            for name in {s["name"] for s in line}:
                rec["jobs_incl"][name] += 1

        for s in spans:
            dur = s["t1"] - s["t0"]
            name = s["name"]
            rec["self"][name] += dur - _covered(children[s["id"]])
            rec["calls"][name] += 1
            if span_jobs[s["id"]] == 0:
                rec["zero_job_calls"][name] += 1
            if name not in {p["name"] for p in lineage(ids.get(s["parent"]))}:
                rec["incl"][name] += dur
            if "supersteps" in s:
                rec["counts_by"][name]["supersteps"] += s["supersteps"]
            for k, v in tracer.counts.get(s["id"], {}).items():
                rec["counts_by"][name][k] += v
            if s["parent"] not in ids:
                rec["wall"] += dur
                rec["uncovered"] += dur - _covered(children[s["id"]])
        result[op] = rec
    return result


def _covered(spans) -> float:
    """Length of the union of the spans' intervals."""
    total, end = 0.0, None
    for s in sorted(spans, key=lambda s: s["t0"]):
        a = s["t0"] if end is None else max(s["t0"], end)
        if s["t1"] > a:
            total += s["t1"] - a
            end = s["t1"]
    return total
