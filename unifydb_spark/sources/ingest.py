"""Text-format ingestion with corrupt-record quarantine: JSONL and CSV
readers that never let one bad line kill a 100 TB load.

The reference ingests only through its transactor (EDN over HTTP,
/root/reference/src/unifydb/server.clj) — one malformed datum fails one
request. A distributed bulk load has the opposite failure shape: Spark's
default FAILFAST/DROPMALFORMED modes either abort the whole job hours in
or silently lose rows. These readers use PERMISSIVE mode with an explicit
`_corrupt_record` column and split the stream into (good, quarantine) —
every input line lands in exactly one of the two frames, and the
quarantine frame carries the raw line for replay after the upstream fix.

Scale notes:
 - The schema is EXPLICIT, never inferred: schema inference is a full
   extra pass over the data before the real read (2× the 100 TB scan),
   and inferred types drift between loads. Callers pass the DDL string.
 - Uncompressed (or bzip2/zstd-seekable) JSONL and CSV are splittable —
   one 10 TB file still parallelizes by HDFS block. Gzip is not; the
   reader warns nothing but the partition count will show one task per
   .gz file, which is the operational signal to re-stage.
 - PERMISSIVE parsing is streamed per-partition by the JVM parser
   (JacksonParser / UnivocityParser) — no Python in the path, full
   whole-stage codegen downstream.
 - The good/quarantine split is two filters over ONE cached scan, not
   two reads; callers that only want the good frame pay a single pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unifydb_spark.resources import tracked_persist

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema_ddl: str) -> str:
    """Append the corrupt-record capture column to a caller DDL."""
    return f"{schema_ddl}, {CORRUPT_COL} STRING"


def _split(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from a PERMISSIVE parse. The frame is
    persisted first: Spark disallows referencing ONLY the corrupt
    column of a raw file scan (the parser fills it lazily —
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the
    persist also makes the two halves share one parse pass. Tracked via
    resources.tracked_persist so engine cache hygiene releases it."""
    raw = tracked_persist(raw)
    good = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, quarantine


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """Read JSON-lines with an explicit schema; returns (good,
    quarantine). `good` has exactly the declared columns; `quarantine`
    is (raw_line STRING) — malformed JSON, schema-violating rows, and
    any line Jackson rejects. PERMISSIVE + columnNameOfCorruptRecord is
    the only mode where both halves survive: FAILFAST kills the job,
    DROPMALFORMED silently deletes data.

    Spark quirk handled here: a row whose JSON is valid but whose
    FIELDS violate the schema gets the raw line in _corrupt_record AND
    nulls in the typed columns — the filter keys on _corrupt_record,
    which is authoritative in PERMISSIVE mode."""
    raw = (
        spark.read.schema(_with_corrupt(schema_ddl))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return _split(raw)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    header: bool = True,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of read_jsonl_quarantine: explicit schema, PERMISSIVE
    parse, (good, quarantine) split. Quarantined rows are wrong-arity
    lines and type-cast failures; the raw line rides along for
    replay."""
    raw = (
        spark.read.schema(_with_corrupt(schema_ddl))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )
    return _split(raw)


def ingest_summary(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Load report for a quarantined JSONL ingest: per-group good-row
    counts with a typed aggregate, plus one `_quarantine` row counting
    the rejected lines — the first DataFrame an operator looks at after
    a bulk load ("did everything land, and what did we reject?").
    Returns (bucket, n, sum_value) with `_quarantine`'s sum NULL.

    One parse pass (the quarantine split shares a persisted scan), two
    combinable aggregations, one 1-row union — scale cost is the read
    itself. The DuckDB oracle (oracle/ingest.py ingest_summary_sql)
    classifies the same raw lines with TRY_CAST-based checks, which agree
    with Spark's PERMISSIVE corrupt-record semantics for the fixture's
    corrupt shapes (invalid JSON, non-numeric values in numeric fields);
    quoted numbers ("5" for a BIGINT field) would diverge (Spark
    rejects, SQL TRY_CAST accepts) and are excluded from the fixture
    contract."""
    good, quarantine = read_jsonl_quarantine(spark, path, schema_ddl)
    agg = good.groupBy(F.col(group_col).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(value_col), 4).alias("sum_value"),
    )
    qrow = quarantine.agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(
        F.lit("_quarantine").alias("bucket"),
        "n",
        F.lit(None).cast("double").alias("sum_value"),
    )
    return agg.unionByName(qrow)


def write_jsonl(df: DataFrame, path: str, partitions: int | None = None):
    """JSONL writer (one JSON object per line): the interchange format
    every external tokenizer/annotator consumes. Repartition count is
    the file-count knob — at scale, target ~1 GB per output file so the
    downstream reader gets block-aligned splits."""
    out = df.repartition(partitions) if partitions else df
    out.write.mode("overwrite").json(path)
