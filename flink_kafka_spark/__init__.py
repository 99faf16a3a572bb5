"""flink_kafka_spark — a PySpark-native analytics engine.

Re-implements, Spark-first, the query and data-processing capabilities of
the reference repo `wmyBigdata-1/Flink-kafka` (a Flink 1.13 user-behavior
analytics project: hot-items Top-N, network-flow PV/UV, marketing channel
stats, login-fail detection, order-pay timeout + reconciliation), and
extends them with large-scale training-data-pipeline operators
(deduplication, similarity search, multimodal plumbing, text analysis).

Architecture (see SURVEY.md §7):

- ``session``    — tuned SparkSession factory (AQE, UTC, arrow).
- ``tables``     — testdata/fixture loaders + temp-view registration.
- ``zipcache``   — lazy zipimporter cache invalidation, installed on
  import so every Python worker that unpickles an engine UDF skips
  PySpark's per-task re-read of ``pyspark.zip``.
- ``operators/`` — reusable ``DataFrame -> DataFrame`` building blocks,
  one module per capability family (windows, topn, joins, patterns,
  fraud, dedup, similarity, text, multimodal). Batch and streaming
  share these.
- ``queries/``   — the registry of named queries: each entry pairs a
  Spark callable ``(spark, sf_dir) -> DataFrame`` with an ANSI-SQL
  oracle string runnable by DuckDB on the same tables.
- ``streaming/`` — Structured Streaming variants: sources (kafka /
  socket / rate / file), sinks, watermarked windowed aggs, and the
  stateful operators (applyInPandasWithState) for CEP-like detection.
- ``plans/``     — the 12 reference pipelines reassembled from
  operators, plus ``.explain`` helpers used to audit physical plans.

Everything here is built only on the public Apache Spark / PySpark API.
"""

__version__ = "0.1.0"

from flink_kafka_spark import zipcache as _zipcache

_zipcache.install()
