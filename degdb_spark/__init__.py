"""degdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of degdb/degdb (reference: /root/reference),
re-expressed Spark-first.

The reference is a P2P sharded RDF triplestore (Go + SQLite). This engine
keeps its *capabilities* — deduplicated triple table, boolean pattern
queries, hop-chained traversal, hash distribution — but expresses them as
Catalyst logical plans over DataFrames, and extends the surface with the
full relational layer (joins/aggregates/windows), graph analytics
(Pregel-style), and LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).
"""

from degdb_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
