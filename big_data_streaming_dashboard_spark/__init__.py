"""PySpark-native analytics engine with the query/data-processing
capabilities of GautamAbraham/Big-Data-Streaming-Dashboard.

The reference is a radiation-monitoring stream pipeline (CSV -> Kafka ->
PyFlink validate/dedup/window/route -> WebSocket dashboard). This package
re-expresses every operator in idiomatic Spark (DataFrame / SQL /
Structured Streaming) as composable ``DataFrame -> DataFrame`` functions,
organized as a medallion pipeline (bronze -> silver -> gold), plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) the reference lacks.

Layout (SURVEY.md section 7.1):
- ``session``    - SparkSession factory tuned for local[N] and cluster use
- ``tables``     - fixture loaders for /root/testdata parquet tables
- ``config``     - the reference's pipeline constants as one frozen
                   ``CONFIG`` (fixed, not settable)
- ``functions/`` - scalar expression builders (levels, keys, time parse)
- ``operators/`` - silver/gold operators (validate, dedup, route, window,
                   analytics, alerts)
- ``sources/``   - batch/streaming source adapters (CSV, parquet, Kafka,
                   rate)
- ``streaming/`` - Structured Streaming pipeline builders, sinks, state
- ``llmdata/``   - beyond-reference training-data ops (dedup, similarity,
                   text, multimodal)
- ``plans/``     - driver-contract query registry (Spark fn + oracle SQL)
"""

__version__ = "0.1.0"
