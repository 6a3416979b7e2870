"""video_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the Skyscraper V-ETL reference system
(ferdiko/video-etl, VLDB'23 "Extract-Transform-Load for Video Streams").

Architecture: everything is expressed against the Spark DataFrame / SQL API so
Catalyst + Tungsten own the physical plan (predicate pushdown, column pruning,
broadcast selection, AQE, whole-stage codegen).  Python only runs driver-side
control-plane math (LP planner, knob switcher, runtime simulator) and
Arrow-vectorized pandas UDFs for ML-shaped transforms.

Package map (see SURVEY.md §2 for the operator inventory each module covers):
  session    — SparkSession factory tuned for the target cluster + table loaders
  registry   — query/oracle registry consumed by __spark_entry__.py
  queries/   — named, duckdb-verifiable queries (relational, temporal, text,
               vectors, boxes)
  operators/ — reusable DataFrame -> DataFrame operator library
  functions/ — column-expression helpers (deterministic hashing, exact money
               aggregation, tokenization)
  llm_ops/   — LLM-training-data pipeline ops: dedup, similarity search,
               multimodal column plumbing
  control/   — ports of the reference control plane: simulator, LP planner,
               knob switcher, buffer accounting, tuner skeleton
  streaming/ — Structured Streaming assembly (chunked ingest, 2s windows,
               foreachBatch plan/switch loop)
"""

__version__ = "0.1.0"

from video_etl_spark.session import get_spark, load_tables, register_views  # noqa: F401
from video_etl_spark.session import install_worker_zip_stamps

install_worker_zip_stamps()
