"""sig_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of votesmart-research/sig_etl.

The reference is a single-threaded, eager, row-at-a-time Python ETL
(scrape → normalize → fuzzy-match). This engine re-expresses every
operator it supports as idiomatic Spark DataFrame / Spark SQL plans so
that Catalyst + Tungsten + AQE pick the physical strategy, and the same
code scales from a local session to a 1000-executor cluster.

Layout
------
- ``session``    SparkSession builder tuned for the engine
- ``tables``     test-table catalog (TPC-H-ish driver data)
- ``extract``    landing-zone scans + schema-on-read HTML/WARC extraction
- ``functions``  column-expression library (names, dates, votes, normalize)
- ``linkage``    blocked fuzzy record-linkage join (the flagship operator)
- ``vsdb``       VSDB candidate-dimension query layer
- ``pipeline``   E→T→M pipeline runner with stage checkpoints
- ``sources``    sources and sinks: CSV stage re-entry, JDBC, Excel
- ``temporal``   as-of and range joins Spark lacks as builtins
- ``sketches``   probabilistic sketches (HLL, count-min, Bloom, KMV)
- ``llm``        large-scale training-data pipeline ops (dedup, ANN, text)
- ``streaming``  Structured Streaming: incremental ingestion + stateful ops
- ``queries``    named query registry with DuckDB oracle SQL
"""

__version__ = "0.1.0"
