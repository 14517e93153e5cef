"""fitness_data_ingest_spark — a PySpark-native batch ingestion + DataFrame
analytics engine with the query/data-processing capabilities of the
reference repo ``jlopezarriaza/fitness-data-ingest`` (a pandas/pyarrow ETL
pipeline), re-expressed Spark-first and extended with LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns)
and Structured Streaming windows.

Layout:
  session    — SparkSession factory (AQE, Arrow, UTC, sane shuffle sizing)
  io         — parquet scan/sink, file-manifest catalog
  ops/       — relational, reshape, scalar operator families (SURVEY.md §2)
  ingest/    — schema registry, normalization, incremental manifest ingest
  ext/       — dedup, similarity, text, multimodal extensions
  stream/    — tumbling/sliding/session windows, watermark streaming
  registry   — driver-facing queries() + oracle_sql() registry
"""

from .compat import drop_archive_importers

__version__ = "0.1.0"

# every Python worker that runs engine code imports this package first;
# see compat.drop_archive_importers
drop_archive_importers()
