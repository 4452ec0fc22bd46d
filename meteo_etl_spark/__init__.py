"""meteo_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first implementation of the query and
data-processing capabilities of the reference weather-data platform
``puhrezAgain/meteo-etl`` (surveyed in SURVEY.md), extended with the
operators a large-scale (100 TB) training-data pipeline needs:
deduplication, similarity search, multimodal columns, text analysis.

Design stance (SURVEY.md §7):

- **Medallion layout on parquet**: bronze (raw, date-partitioned JSON),
  silver (``weather_observations`` merge-maintained on its natural key),
  a control table (``fetch_metadata`` job lifecycle), and an analytics
  module (the dashboard query surface).
- **DataFrame + Spark SQL everywhere**; Catalyst does predicate
  pushdown / column pruning / join selection. No RDDs, no custom
  Catalyst rules.
- **Structured Streaming** with ``foreachBatch`` merge for the
  streaming pipeline; ``availableNow`` triggers for bounded runs.
- **Scale discipline**: broadcast small dimensions, pre-aggregate
  before joins, partition-pruned merges (staged, then swapped in
  per partition), AQE on, Arrow-vectorized Pandas UDFs only where
  built-ins can't express the semantics.
"""

__version__ = "0.1.0"
