"""flink_start_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference project ``mainul098/flink-start`` (a Flink event-time windowing
tutorial: see /root/reference/src/main/scala/datastreams/FlinkWindowLearning.scala
and .../generators/useractivity/package.scala), re-expressed Spark-first:

- the logical plan is declared with the DataFrame / Spark SQL API and
  optimized by Catalyst (predicate pushdown, column pruning, broadcast
  joins, AQE);
- streams run on Structured Streaming (watermarks + windowed state);
- the one operator Spark lacks natively (the reference's count-triggered
  global window, FlinkWindowLearning.scala:242-255) is composed from
  built-in analytic window functions in batch and a stateful Pandas
  operator in streaming;
- beyond the reference surface, the engine ships the LLM-training-data
  operators a 100 TB pipeline needs: deduplication (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding cosine), similarity search
  (brute-force + LSH-bucketed ANN), text analysis (language-ID, quality
  scoring, token counting, fingerprinting), and multimodal binary-column
  plumbing.

Everything here derives from public knowledge only: the Apache Spark API
and docs, the reference repo, and published papers (see PAPERS.md).
"""

from flink_start_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
