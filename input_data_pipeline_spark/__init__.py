"""input_data_pipeline_spark — a PySpark-native analytics engine.

A ground-up re-expression of the capabilities of the reference
``Zengggggg/input_data_pipeline`` (a single-process multimodal ingestion
pipeline; see SURVEY.md) as a distributed, Spark-first engine:

- declarative DataFrame/SQL plans (Catalyst optimizes; we don't hand-schedule)
- the reference's ingestion data model (``IngestRecord``) as typed StructTypes
  with JSONL-compatible read/write
- the full relational operator surface needed to query star-schema data at
  100 TB scale (broadcast joins, partial aggs, AQE, skew handling)
- LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard), similarity search over embeddings, text analysis, multimodal
  binary columns
- Structured Streaming for the append-forever collector usage pattern
"""

__version__ = "0.1.0"

# first: makes the per-task zip-cache invalidation in Python workers cheap
from input_data_pipeline_spark import _zipcache  # noqa: F401
from input_data_pipeline_spark.session import get_spark  # noqa: F401
from input_data_pipeline_spark.plans.registry import (  # noqa: F401
    all_oracle_sql,
    all_queries,
    get,
)
from input_data_pipeline_spark.tables import (  # noqa: F401
    load_table,
    load_tables,
    register_views,
)
