"""Sources & sinks — the cudf I/O surface (SURVEY §2.1, cpp/src/io/:
parquet/orc/csv/json/avro read+write). Parquet, ORC, CSV, JSON and text
are Spark built-ins (``spark.read.format(fmt)``, ``df.write.format(fmt)``),
which already provide projection/predicate pushdown, file splits and
compression codecs. Avro needs the spark-avro jar, so :mod:`.avro`
implements the container-file spec directly.
"""
