"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference pipeline (jack-tol/usda-food-data-pipeline),
re-expressed Spark-first.

Layout:
    session    — SparkSession factory tuned for local[N] testing, cluster-safe defaults
    sources    — parquet/CSV scans of the star schema, snapshots, sinks
    functions  — scalar cleaning functions (SURVEY §2.6) + text analytics
    operators  — dedup, top-k, pivot, joins, vector similarity, multimodal
    plans      — end-to-end query plans (flagship query, faithful USDA pipeline)
    streaming  — Structured Streaming extension (windows, watermark, stream-stream joins)
"""

__version__ = "0.1.0"
