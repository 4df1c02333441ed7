"""PySpark-native engine with the data-processing capabilities of
cBioPortal/clickhouse-only-importer-prototype.

The reference (/root/reference, Go + Arrow) is a batch ETL importer that
converts cBioPortal study TSVs into ClickHouse-shaped Parquet tables.
This package re-expresses that surface Spark-first (DataFrame/Catalyst),
and extends it with the large-scale data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) needed at 100 TB.

Layout:
  session     - tuned SparkSession factory
  schemas     - the five output StructTypes + read options
  sources/    - study-dir discovery, TSV readers, parquet/table readers
  operators/  - CNA pivot/melt, mutation projections + surrogate keys,
                dedup, similarity, text analysis, multimodal
  functions/  - scalar helper expressions
  plans/      - end-to-end pipelines (convert-cna, convert-mutations,
                combine) mirroring the reference CLI modes
  sinks/      - parquet writers, ClickHouse DDL and the HTTP load sink
  streaming/  - Structured Streaming over the events table
"""

__version__ = "0.1.0"
