"""DuckDB oracle twins: for each operator, SQL that reproduces its rows on
the same parquet. Verification code only — `__spark_entry__.oracle_sql()`
and the tests import it; no runtime module does.
"""
