"""AQL — the reference's query dialect, re-expressed on Spark.

``model``   dataclasses mirroring query/common/aql.go:95-151
``expr``    expression parser + Spark-SQL text compiler
            (reference: query/expr/parser.go + query/context/query_context_helper.go)
``timeutil`` relative-time grammar + time bucketizers
            (reference: query/common/time_filter.go, query/time_bucketizer.go)
``planner`` AQL Query → DataFrame pipeline
``result``  nested time-series JSON result shaper
            (reference: query/common/aql_query_result.go:22-40)
"""

from aresdb_spark.aql.model import (  # noqa: F401
    Dimension,
    Join,
    Measure,
    NumericBucketizer,
    Query,
    SortField,
    TimeFilter,
)
from aresdb_spark.aql.planner import plan_query  # noqa: F401
