"""JDBC fact-log backend (reference S6: the KV store's JDBC blob-table
flavor, src/unifydb/kvstore/jdbc.clj — it supports six RDBMSs through one
driver interface; here Spark's JDBC source is that interface).

The fact log is one relational table in FACT_SCHEMA; appends are one
atomic driver-side JDBC batch per transaction (see `append`), and reads
come back partitioned by `tx` so a large log parallelizes across
executors (`numPartitions`/bounds on read).
Unlike the reference's nippy-serialized blobs, facts land as plain typed
columns — queryable by the host database too.

Tested against embedded Derby (ships with Spark); any JDBC URL works the
same way. Note Derby is single-process; production would point this at
Postgres/MySQL.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unifydb_spark.txlog import Pin, aggregate_stats
from unifydb_spark.values import FACT_SCHEMA

# Spark's Derby dialect maps StringType to CLOB, which Derby's JDBC driver
# then refuses to read back as VARCHAR — create the table ourselves with
# explicit types (the reference's jdbc.clj also issues its own DDL).
_FACT_DDL_COLS = (
    "e BIGINT NOT NULL, a VARCHAR(512) NOT NULL, v_type VARCHAR(16) NOT NULL, "
    "v_long BIGINT, v_double DOUBLE, v_str VARCHAR(4096), v_bool BOOLEAN, "
    "v_ref BIGINT, v_ts TIMESTAMP, v_json VARCHAR(8192), "
    "tx BIGINT NOT NULL, added BOOLEAN NOT NULL"
)


class JdbcBackend:
    """FactStore backend over any JDBC database."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str = "unifydb_facts",
        driver: Optional[str] = None,
        read_partitions: int = 8,
        **properties: str,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.properties = dict(properties)
        if driver:
            self.properties["driver"] = driver
        self.read_partitions = read_partitions
        self._version = 0
        self._pin: Optional[tuple] = None  # (version, Pin)
        self._exists = False

    def _ensure_table(self) -> None:
        if self._exists:
            return
        jvm = self.spark._jvm
        if self.properties.get("driver"):
            jvm.java.lang.Class.forName(self.properties["driver"])
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(f"CREATE TABLE {self.table} ({_FACT_DDL_COLS})")
            except Exception as e:  # already exists (Derby X0Y32 etc.)
                if "exist" not in str(e).lower() and "X0Y32" not in str(e):
                    raise
            finally:
                stmt.close()
        finally:
            conn.close()
        self._exists = True

    def append(self, rows: Iterable[tuple]) -> None:
        """Driver-side batched insert (the reference's transactor is a
        single JDBC writer too, kvstore/jdbc.clj). Spark's JDBC writer is
        unusable against VARCHAR columns here: its Derby dialect issues
        setNull(CLOB) for null strings, which Derby rejects — and letting
        Spark create CLOB columns instead breaks getString on read.
        Transactions are driver-sized by construction, so a batch insert
        is the right tool; bulk backfills belong in parquet/Delta."""
        self._ensure_table()
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            conn.setAutoCommit(False)
            ps = conn.prepareStatement(
                f"INSERT INTO {self.table} VALUES ({', '.join(['?'] * 12)})"
            )
            Types = jvm.java.sql.Types
            sql_types = [
                Types.BIGINT, Types.VARCHAR, Types.VARCHAR, Types.BIGINT,
                Types.DOUBLE, Types.VARCHAR, Types.BOOLEAN, Types.BIGINT,
                Types.TIMESTAMP, Types.VARCHAR, Types.BIGINT, Types.BOOLEAN,
            ]
            try:
                for row in rows:
                    for i, (v, t) in enumerate(zip(row, sql_types), start=1):
                        if v is None:
                            ps.setNull(i, t)
                        elif t == Types.BIGINT:
                            ps.setLong(i, int(v))
                        elif t == Types.DOUBLE:
                            ps.setDouble(i, float(v))
                        elif t == Types.BOOLEAN:
                            ps.setBoolean(i, bool(v))
                        elif t == Types.TIMESTAMP:
                            ps.setTimestamp(
                                i,
                                jvm.java.sql.Timestamp(
                                    int(v.timestamp() * 1000)
                                ),
                            )
                        else:
                            ps.setString(i, str(v))
                    ps.addBatch()
                ps.executeBatch()
                conn.commit()  # single atomic commit per transaction (T7)
            finally:
                ps.close()
        finally:
            conn.close()
        self._version += 1

    def facts_df(self) -> DataFrame:
        if not self._probe():
            return self.spark.createDataFrame([], schema=FACT_SCHEMA)
        hi = max(self.pin().latest_tx, 1)
        df = self.spark.read.jdbc(
            self.url,
            self.table,
            column="tx",
            lowerBound=0,
            upperBound=hi + 1,
            numPartitions=self.read_partitions,
            properties=self.properties,
        )
        # normalize column order/types back to FACT_SCHEMA
        return df.select(
            *[F.col(f.name).cast(f.dataType) for f in FACT_SCHEMA.fields]
        )

    def _raw(self) -> DataFrame:
        return self.spark.read.jdbc(self.url, self.table, properties=self.properties)

    def _probe(self) -> bool:
        """Whether the fact table exists (a missing one reads as empty)."""
        if not self._exists:
            try:
                self._raw().schema  # force resolution
                self._exists = True
            except Exception:
                pass
        return self._exists

    def pin(self) -> Pin:
        """The table's read stats from one aggregate, once per `_version`
        (each append through this handle starts a new one)."""
        version = self._version
        if self._pin is None or self._pin[0] != version:
            stats = aggregate_stats(self._raw()) if self._probe() else None
            self._pin = (version, Pin.of(None, stats))
        return self._pin[1]
