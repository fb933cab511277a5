"""flu_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch Spark SQL / DataFrame re-expression of the query and
data-processing capabilities of the reference `tomengland/flu_data_pipeline`
(an Airflow + pandas + Postgres epidemiological ETL/reporting stack), extended
with large-scale training-data pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) and designed for 100 TB-scale execution:

- declarative DataFrame/SQL plans (Catalyst optimizes: pushdown, pruning,
  join strategy, AQE),
- broadcast joins for dimensions, shuffle-key hygiene for facts,
- zero row-at-a-time Python UDFs in the hot path (everything native or
  Arrow-vectorized pandas UDFs).

Subpackages
-----------
- ``session``    SparkSession factory (AQE on, UTC, tuned shuffle partitions)
- ``catalog``    parquet table registration / temp views
- ``oracle``     the "hash-identical" compare against the DuckDB oracles
- ``schemas``    StructType registry for the reference's star schema + raw feeds
- ``plans``      query plans: the reference's report queries, the five
                 table-derivation pipelines, and the oracle-checked inventory
- ``operators``  reusable relational operators (dedup family, similarity/ANN,
                 idempotent append)
- ``functions``  scalar/aggregate expression builders (cleaning, text, hashing)
- ``sources``    readers/writers (CSV/JSON/parquet landing, bulk sinks)
- ``streaming``  Structured Streaming ingest (watermarked, foreachBatch merge)
- ``multimodal`` binary-column plumbing (decode stubs, metadata, batch shape)
"""

__version__ = "0.1.0"
