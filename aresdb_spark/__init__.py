"""aresdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of uber/aresdb.

Architecture (Spark-first, NOT a port):
  - ``catalog``    table registry + parquet readers (archive store analog)
  - ``aql``        AQL query model, expression dialect compiler, planner
  - ``functions``  geo predicates (Spark-SQL text) and HLL sketch helpers
  - ``operators``  data-pipeline operators (dedup, similarity, text, multimodal)
  - ``sources``    hot/cold union view, streaming-ish sources
  - ``streaming``  ingestion: upsert semantics, retention, backfill
  - ``plans``      plan inspection utilities (explain, shuffle audit)

Reference parity map: see SURVEY.md §2 (operator inventory). The execution
engine of the reference (Go + CUDA, query/aql_processor.go) is replaced by
Catalyst/Tungsten; this package only *declares* logical plans.
"""

__version__ = "0.1.0"

from aresdb_spark.session import get_spark  # noqa: F401
