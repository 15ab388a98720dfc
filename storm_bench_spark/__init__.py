"""storm_bench_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference Storm benchmark suite (imais/storm-bench), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, state
handled by Structured Streaming, and every hot-path expression kept
JVM-side (zero Python UDFs in the reference-derived surface).

Layout
------
- ``session``    SparkSession factory tuned for the engine
- ``schemas``    StructTypes for the parsed reference wire formats
- ``functions``  column-expression library (text, geo, hashing, vectors)
- ``sources``    readers + deterministic derived tables for testdata
- ``operators``  reusable operator compositions (windows, top-k, joins,
                 dedup, similarity)
- ``plans``      the reference's 12 topology queries + TPC-H-ish
                 headline queries, each as ``(spark, sf_dir) -> DataFrame``
- ``streaming``  Structured Streaming twins (watermarks, availableNow,
                 stateful ops)
"""

__version__ = "0.1.0"
