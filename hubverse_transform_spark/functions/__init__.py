"""Column-level expression helpers (JVM-side, codegen-friendly).

The helpers return Spark Column expressions built from
``pyspark.sql.functions`` — no Python UDFs in the hot path. The two Python
exceptions are explicit: ``udtfs`` (table functions) and ``pandas_aggs``
(a grouped pandas aggregate), each used by the queries that need them.
"""
