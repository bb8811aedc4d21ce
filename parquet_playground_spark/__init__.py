"""parquet_playground_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference repo ``harsh-tamr/parquet-playground`` (a Java Parquet
ingestion/egestion playground), re-expressed Spark-first: DataFrame/SQL
declarative plans optimized by Catalyst, vectorized Parquet scans, and
LLM-data-pipeline extensions (dedup, similarity search, text analysis,
multimodal binary columns).

Layout:
    session.py    SparkSession factory and the one session conf table
    tables.py     testdata table loader
    registry.py   central (query, oracle-SQL) registry
    operators/    relational operators: scans, filters, joins, aggs,
                  windows, sorts, set ops, flatten_multimap, as-of join
    sources/      parquet corpus readers, avro (gated), write paths
    functions/    scalar-function surfaces + LLM-pipeline ops
    streaming/    Structured Streaming queries (availableNow replay)
    plans/        physical-plan walker (plan_nodes)
"""

from parquet_playground_spark.session import get_spark
from parquet_playground_spark.tables import load_table

__all__ = ["get_spark", "load_table"]
__version__ = "0.1.0"
