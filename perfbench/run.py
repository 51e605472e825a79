"""Benchmark of the unifydb_spark engine: one workload per run.

    python3 perfbench/run.py --workload rule_fixpoint --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20   # every workload, untraced + traced
    python3 perfbench/run.py --selftest                     # a wrong answer must fail the run

Run from the root of a checkout: the program is imported from there and
everything the run writes (generated tables, the store, Spark scratch,
reports) goes under `.perfbench_work/`. One process, one
`local[<cpus>]` Spark session. Workloads (see BENCHMARK.json):

- rule_fixpoint: the driver-loop-bound registry entries (perfbench/fixpoint.py);
- serve_mixed: HTTP reads and writes over a commit-log store (perfbench/serve.py).

Set-up (session start, the median of SETUP_REPEATS builds of the
workload's inputs, one warm-up pass) is timed apart from the measured
phase, which runs a fixed, seeded sequence of operations sized by
`--seconds` (about that long on a 4-core host), so two commits measured
with the same arguments do identical work. Every output is checked
(DuckDB oracle or write model) after the measured phase; a wrong or
failed operation counts in `failed` and makes the exit code 1. The last stdout line is the JSON result: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer ones
from a run with spans around each layer (perfbench/trace.py).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("rule_fixpoint", "serve_mixed")
SETUP_REPEATS = 3
E2E_UNITS = {"setup_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms",
             "ops_per_s": "1/s", "peak_rss_mb": "MB"}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.phase = "setup"

    def span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op=op) if self.tracer else nullcontext()


# ---- process and host counters --------------------------------------------

def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_seconds(spark) -> float:
    """User + system CPU of this Python process and its JVM."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    with open(f"/proc/{_jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm_ticks = int(fields[11]) + int(fields[12])
    return ru.ru_utime + ru.ru_stime + jvm_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks from /proc/stat, summing fields 0-7 only:
    guest time is already counted in user time."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def noise_label(t0: tuple, t1: tuple) -> dict:
    steal, total = t1[0] - t0[0], t1[1] - t0[1]
    return {"steal_share": steal / total if total else 0.0,
            "loadavg": list(os.getloadavg())}


# ---- statistics --------------------------------------------------------------

def tail(values: list) -> tuple[float, str]:
    """The highest whole percentile with at least ten samples beyond it,
    and its label; the maximum when fewer than twenty samples leave no
    such percentile at or above the median."""
    n = len(values)
    if n < 20:
        return max(values), "max"
    p = int(100 * (1 - 10 / n))
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1], f"p{p}"


def throughput(records: list, start: float) -> float:
    """Operations per second summed over clients, each client's rate
    taken over its own busy time (start to its last completion)."""
    last: dict = {}
    count: dict = {}
    for r in records:
        c = r.get("client", 0)
        last[c] = max(last.get(c, start), r["t1"])
        count[c] = count.get(c, 0) + 1
    return sum(count[c] / (last[c] - start) for c in count)


def e2e_metrics(records: list, start: float, setup_s: float, rss: float) -> tuple[dict, dict]:
    q = [1000 * (r["t1"] - r["t0"]) for r in records if r["kind"] == "query"]
    w = [1000 * (r["t1"] - r["t0"]) for r in records if r["kind"] == "write"]
    q_tail, q_label = tail(q)
    metrics = {"setup_s": setup_s, "query_p50_ms": statistics.median(q),
               "query_tail_ms": q_tail, "ops_per_s": throughput(records, start),
               "peak_rss_mb": rss}
    extra = {"query_tail_percentile": q_label, "queries": len(q), "writes": len(w),
             "error_share": sum(not r["ok"] for r in records) / len(records)}
    if w:
        w_tail, w_label = tail(w)
        extra.update(transact_p50_ms=statistics.median(w), transact_tail_ms=w_tail,
                     transact_tail_percentile=w_label)
    return metrics, extra


def layer_metrics(tracer, spark, records: list, extra: dict) -> dict:
    """Per-layer figures: means per query op (per write op for the write
    path), from the traced run's spans and Spark's status store."""
    from perfbench import trace

    ops = [r["op"] for r in records]
    jobs = trace.job_rows(spark, ops)
    an = trace.analyse(tracer, jobs)
    for r in records:
        r["jobs"] = len(jobs.get(r["op"], []))
    qs = [r for r in records if r["kind"] == "query"]
    ws = [r for r in records if r["kind"] == "write"]
    nq, nw = max(len(qs), 1), max(len(ws), 1)
    empty = {"self": {}, "incl": {}, "jobs_self": {}, "jobs_incl": {}, "calls": {},
             "counts_by": {}, "zero_job_calls": {}, "wall": 0.0, "uncovered": 0.0,
             "engine": 0.0}

    def a(r):
        return an.get(r["op"], empty)

    def qsum(fn):
        return sum(fn(r) for r in qs) / nq

    def wsum(fn):
        return sum(fn(r) for r in ws) / nw

    def ms(kind, name):
        return lambda r: 1000 * a(r)[kind].get(name, 0.0)

    def job_sum(field):
        return lambda r: sum(j[field] for j in jobs.get(r["op"], []))

    cat = {r["op"]: trace.catalyst_ms(tracer.frames.get(r["op"], [])) for r in qs}
    calls = lambda name: sum(a(r)["calls"].get(name, 0) for r in records)  # noqa: E731
    counted = lambda name, key: sum(  # noqa: E731
        a(r)["counts_by"].get(name, {}).get(key, 0.0) for r in records)
    meta_calls = calls("store.meta")
    new_files = extra.get("bytes_written", 0)
    out = {
        "exec.jobs": (qsum(lambda r: len(jobs.get(r["op"], []))), "count"),
        "exec.stages": (qsum(job_sum("stages")), "count"),
        "exec.tasks": (qsum(job_sum("tasks")), "count"),
        "exec.run.ms": (qsum(job_sum("run_ms")), "ms"),
        "exec.cpu.ms": (qsum(job_sum("cpu_ms")), "ms"),
        "exec.shuffle_read.bytes": (qsum(job_sum("shuffle_read")), "bytes"),
        "exec.shuffle_write.bytes": (qsum(job_sum("shuffle_write")), "bytes"),
        "exec.spill.bytes": (qsum(job_sum("spill")), "bytes"),
        "catalyst.analysis.ms": (qsum(lambda r: cat[r["op"]]["analysis"]), "ms"),
        "catalyst.optimization.ms": (qsum(lambda r: cat[r["op"]]["optimization"]), "ms"),
        "catalyst.planning.ms": (qsum(lambda r: cat[r["op"]]["planning"]), "ms"),
        "parse.ms": (qsum(ms("self", "parse")), "ms"),
        "compile.ms": (qsum(ms("self", "compile")), "ms"),
        "compile.jobs": (qsum(lambda r: a(r)["jobs_self"].get("compile", 0)), "count"),
        "find.ms": (qsum(ms("self", "find")), "ms"),
        "pull.ms": (qsum(ms("self", "pull")), "ms"),
        "rules.ms": (qsum(ms("self", "rules")), "ms"),
        "rules.jobs": (qsum(lambda r: a(r)["jobs_incl"].get("rules", 0)), "count"),
        "rules.rounds": (qsum(lambda r: r.get("rules_rounds", 0)), "count"),
        "rules.delta_rows": (qsum(lambda r: r.get("rules_delta_rows", 0)), "count"),
        "graph.ms": (qsum(ms("self", "graph")), "ms"),
        "graph.jobs": (qsum(lambda r: a(r)["jobs_incl"].get("graph", 0)), "count"),
        "graph.supersteps": (qsum(lambda r: r.get("cc_supersteps", 0) + a(r)["counts_by"]
                                  .get("graph", {}).get("supersteps", 0)), "count"),
        "decode.ms": (qsum(lambda r: 1000 * sum(
            c.get("decode_s", 0.0) for c in a(r)["counts_by"].values())), "ms"),
        "store.snapshot.ms": (qsum(ms("self", "store.snapshot")), "ms"),
        "store.meta.ms": (qsum(ms("self", "store.meta")), "ms"),
        "store.meta.jobs": (qsum(lambda r: a(r)["jobs_incl"].get("store.meta", 0)), "count"),
        "store.meta.hit_ratio": (
            sum(a(r)["zero_job_calls"].get("store.meta", 0) for r in records)
            / meta_calls if meta_calls else 0.0, "ratio"),
        "txlog.read.ms": (qsum(ms("self", "txlog.read")), "ms"),
        "txlog.manifests_per_read": (
            counted("txlog.read", "manifests") / calls("txlog.read")
            if calls("txlog.read") else 0.0, "count"),
        "server.overhead.ms": (qsum(lambda r: 1000 * (r["t1"] - r["t0"] - a(r)["engine"])
                                    if "status" in r else 0.0), "ms"),
        "server.compiles_per_query": (qsum(lambda r: a(r)["calls"].get("engine.compile", 0)),
                                      "count"),
        "store.transact.ms": (wsum(ms("self", "store.transact")), "ms"),
        "txlog.commit.ms": (wsum(ms("incl", "txlog.commit")), "ms"),
        "txlog.commit_attempts_per_tx": (
            calls("txlog.commit") / calls("store.transact") if calls("store.transact")
            else 0.0, "count"),
        "txlog.maintain.ms": (wsum(ms("incl", "txlog.maintain")), "ms"),
        "txlog.checkpoints": (calls("txlog.checkpoint"), "count"),
        "txlog.bytes_written_per_fact": (
            new_files / extra["facts_written"] if extra.get("facts_written") else 0.0,
            "bytes"),
        "proc.cpu.ms": (extra["cpu_ms_per_op"], "ms"),
        "trace.uncovered_share": (
            sum(a(r)["uncovered"] for r in records)
            / max(sum(a(r)["wall"] for r in records), 1e-9), "ratio"),
    }
    return out


# ---- one run -----------------------------------------------------------------

def _check_checkout() -> None:
    need = ("unifydb_spark/__init__.py", "__spark_entry__.py", "scripts/oracle_check.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: not a checkout of the program (missing {missing})\n")
        sys.exit(2)


def _session(cpus: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM: the gateway exits when its stdin
    closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _install_server_spans(tracer, spark) -> None:
    """Serve-side spans: the request handler runs on the server's thread,
    which takes the op id (and job group) from the client's header."""
    from unifydb_spark import server

    sc = spark.sparkContext

    def wrapper(orig):
        def do_POST(handler):
            op = handler.headers.get("X-Perfbench-Op")
            parent = handler.headers.get("X-Perfbench-Span")
            sc.setJobGroup(op, op)
            try:
                with tracer.span("server.request", op=op,
                                 parent=int(parent) if parent else None):
                    return orig(handler)
            finally:
                sc.setJobGroup(None, None)
        return do_POST

    tracer._patch(server.EngineHandler, "do_POST", wrapper)


def _build(name: str, ctx: Ctx, i: int, small: bool):
    if name == "rule_fixpoint":
        from perfbench import fixpoint

        if small:
            fixpoint.CUSTOMERS = 200
        return fixpoint.Fixpoint(ctx, os.path.join(WORK, f"data-{ctx.seed}-{i}"))
    from perfbench import serve

    if small:
        serve.SEED_TXS = 8
    path = os.path.join(WORK, f"store-{ctx.seed}-{i}")
    shutil.rmtree(path, ignore_errors=True)
    return serve.Serve(ctx, path)


def run_one(args) -> int:
    _check_checkout()
    sys.path.insert(0, ROOT)
    for d in ("tmp", "spark-local", "reports"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import tempfile

    tempfile.tempdir = None
    cpus = len(os.sched_getaffinity(0))
    ticks0 = cpu_ticks()

    t0 = time.time()
    spark = _session(cpus)
    session_s = time.time() - t0
    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer()
        trace.install(tracer)
        _install_server_spans(tracer, spark)
    ctx = Ctx(spark, args.seed, tracer)
    wl = None
    try:
        builds = []
        for i in range(SETUP_REPEATS):
            if wl is not None:
                wl.close()
            t = time.time()
            wl = _build(args.workload, ctx, i, args.small)
            builds.append(time.time() - t)
        ctx.phase = "warm"
        t = time.time()
        warm = wl.warmup()
        warm_s = time.time() - t
        setup_s = session_s + statistics.median(builds) + warm_s

        ctx.phase = "run"
        serving = hasattr(wl, "durability")
        files0 = wl.data_files() if serving else {}
        model0 = len(wl.model.facts) if serving else 0
        ungrouped0 = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        cpu0, ticks_run0 = cpu_seconds(spark), cpu_ticks()
        start = time.time()
        records = wl.run(args.seconds)
        cpu1, ticks_run1 = cpu_seconds(spark), cpu_ticks()
        ungrouped = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) - ungrouped0

        wl.verify(warm)
        wl.verify(records, corrupt=args.corrupt_expected)
        problems = [f"{r['op']} {r['name']}: {r.get('error')}" for r in warm + records
                    if not r["ok"]]
        extra = {"cpu_ms_per_op": 1000 * (cpu1 - cpu0) / len(records)}
        if serving:
            acked = [r["tx"] for r in warm + records if r.get("tx") is not None]
            problems += [f"durability: {p}" for p in wl.durability(wl.seed_txs + acked)]
            sizes = wl.store_stats()
            new = {f: s for f, s in wl.data_files().items() if f not in files0}
            writes = [r for r in records if r["kind"] == "write" and r["ok"]]
            extra["bytes_written"] = sum(new.values())
            extra["facts_written"] = len(wl.model.facts) - model0 + len(writes)
            extra["store_bytes_per_fact"] = sizes["data_bytes"] / sizes["facts"]
        else:
            sizes = {"data_bytes": wl.data_bytes}
        metrics, stats = e2e_metrics(records, start, setup_s, peak_rss_mb(spark))
        extra.update(stats)
        failed = sum(not r["ok"] for r in records)
        correct = not problems

        layers = layer_metrics(tracer, spark, records, extra) if tracer else {}
        jobs_by_name: dict = {}
        ms_by_name: dict = {}
        for r in records:
            ms_by_name.setdefault(r["name"], []).append(1000 * (r["t1"] - r["t0"]))
            if "jobs" in r:
                jobs_by_name.setdefault(r["name"], []).append(r["jobs"])
        extra["p50_ms_by_kind"] = {k: round(statistics.median(v), 1)
                                   for k, v in sorted(ms_by_name.items())}
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "setup": {
                "session_s": session_s, "builds_s": builds, "warmup_s": warm_s},
            "e2e": metrics, "stats": extra, "sizes": sizes,
            "ram_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            "noise": {"run": noise_label(ticks_run0, ticks_run1),
                      "whole": noise_label(ticks0, cpu_ticks())},
            "jobs_per_op": jobs_by_name or {"all_ops": ungrouped / len(records)},
            "ops": [{k: r[k] for k in ("op", "name", "kind", "t0", "t1", "ok", "jobs")
                     if k in r} for r in records],
            "problems": problems[:20],
        }
        if tracer:
            report["layers"] = {k: v for k, (v, _) in layers.items()}
            with open(os.path.join(WORK, "reports",
                                   f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s) + "\n")
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        with open(os.path.join(WORK, "reports",
                               f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
    finally:
        if wl is not None:
            wl.close()
        if tracer:
            tracer.uninstall()
        _stop(spark)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"noise={json.dumps(report['noise']['run'])}")
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {E2E_UNITS[k]}")
    for k, v in extra.items():
        print(f"# {k} = {v}")
    print(f"# sizes = {json.dumps(sizes)}")
    print(f"# jobs_per_op = {json.dumps(report['jobs_per_op'])}")
    for p in problems[:20]:
        print(f"# FAILED {p}")
    print(json.dumps({"correct": correct, "attempted": len(records), "failed": failed,
                      "metrics": out_metrics}))
    return 0 if correct else 1


# ---- all workloads, self-test --------------------------------------------------

def _child(workload: str, seed: int, seconds: int, trace: int, *flags) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *flags]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    return proc.returncode, result


def run_all(args) -> int:
    """Every workload untraced then traced; prints each end-to-end metric
    with its unit, the per-layer metrics, and the tracing overhead (traced
    minus untraced end-to-end, as a share of untraced)."""
    _check_checkout()
    status = 0
    for wl in WORKLOADS:
        code0, plain = _child(wl, args.seed, args.seconds, 0)
        code1, traced = _child(wl, args.seed, args.seconds, 1)
        status |= code0 | code1
        print(f"== {wl}: exit {code0}/{code1}, correct {plain.get('correct')}/"
              f"{traced.get('correct')}, failed {plain.get('failed')}/{traced.get('failed')}"
              f" of {plain.get('attempted')}/{traced.get('attempted')}")
        for k, m in plain.get("metrics", {}).items():
            print(f"  {k:28s} {m['value']:14.4f} {m['unit']}")
        with open(os.path.join(WORK, "reports", f"{wl}-{args.seed}-trace1.json")) as f:
            traced_e2e = json.load(f)["e2e"]
        for k, m in plain.get("metrics", {}).items():
            print(f"  overhead {k:19s} {traced_e2e[k] / m['value'] - 1:+14.2%}")
        for k, m in traced.get("metrics", {}).items():
            print(f"  {k:28s} {m['value']:14.4f} {m['unit']}")
    return status


def selftest(args) -> int:
    """At small sizes, a corrupted expected answer must count as a failed
    op and make the run exit non-zero; an honest run must pass."""
    ok = True
    for wl in WORKLOADS:
        code, res = _child(wl, args.seed, 1, 0, "--small", "--corrupt-expected")
        caught = code != 0 and res.get("failed", 0) >= 1 and res.get("correct") is False
        code2, res2 = _child(wl, args.seed, 1, 0, "--small")
        honest = code2 == 0 and res2.get("failed") == 0 and res2.get("correct") is True
        print(f"{wl}: corrupted answer caught={caught}, honest run passes={honest}")
        ok = ok and caught and honest
    print("selftest", "PASSED" if ok else "FAILED")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--small", action="store_true", help="small inputs (self-test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected answer (self-test)")
    args = ap.parse_args(argv)
    if args.selftest:
        return selftest(args)
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload, --all or --selftest is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
