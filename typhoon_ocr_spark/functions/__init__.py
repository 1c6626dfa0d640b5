"""Functions: Arrow-vectorized pandas UDFs + native column expressions.

Every Python hot-path runs inside a pandas UDF body over whole
pd.Series (Arrow record-batch transport) — never row-at-a-time Python
UDFs. Anything expressible with pyspark.sql.functions stays JVM-side.
Import from the submodules (``functions.udfs``, ``functions.textsql``,
...) directly.
"""
