"""Training-data pipeline operators (BASELINE.json north-star extensions):
deduplication, similarity search, text analysis, multimodal plumbing.

Every operator is a DataFrame -> DataFrame function built from JVM-side
builtins wherever possible; hashing is md5-based so an ANSI-SQL oracle
(DuckDB) can reproduce results bit-for-bit. Floating-point aggregations go
through exact DECIMAL partial sums so results are independent of partition
count and reduction order — the property that makes them verifiable at any
scale. The DuckDB twins that verify them live in `unifydb_spark/oracle/`.
"""
