"""Large-scale training-data pipeline ops over plain text / embedding
tables: dedup, similarity search, text analysis, multimodal plumbing.

Everything here is expressed with built-in ``pyspark.sql.functions``
(JVM-side, whole-stage codegen) unless genuinely impossible; each op
has a DuckDB-SQL oracle twin next to its query in
``pdf_table_spark.queries``, built from the same formula (shared
md5-based hashing so both engines agree bit-for-bit).
"""
