"""data_engineering_hs_spark — a PySpark-native analytics engine.

A brand-new engine re-expressing the query and data-processing
capabilities of the reference course repository
(Nye1nChanSoe/data-engineering-hs) as one unified, idiomatic PySpark
DataFrame/SQL/Structured-Streaming surface, designed for
1000-executor / 100 TB scale while remaining testable on local[N].

Layout:
    session     - SparkSession factory (UTC, Arrow, AQE)
    catalog     - explicit StructType schemas + loaders for every dataset
    functions/  - curated scalar/text/vector expression library
    operators/  - relational core + dedup/similarity operators
    sources/    - batch + incremental readers/writers (CSV/JSON/parquet/
                  Avro/REST/JDBC-style upsert)
    plans/      - dbt-style model-DAG runner with incremental materialization
    quality/    - assertion operators (not_null/unique/accepted_values)
    streaming/  - Structured Streaming pipelines (Kafka-shaped, socket,
                  file-watch ingest, watermarked windows)
    queries/    - named query definitions used by __spark_entry__ and bench
"""

__version__ = "0.1.0"
