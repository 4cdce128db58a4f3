"""Archive writer — the archiving job's output format.

Reference: the daily archiving job snapshots the live store, sorts by the
table's archiving sort columns, and merges into immutable daily batches
(memstore/archiving.go:62-72, memstore/merge.go:326-332). The sort is what
makes the prefilter slice work at query time (binary-search on sorted
columns, query/aql_processor.go:925-985).

Spark analog: day-partitioned parquet, sorted WITHIN each partition by
``sort_columns``. Partition pruning handles the time filter; parquet
row-group min/max statistics on the sorted columns give the
prefilter-slice effect (a predicate on a sort-column prefix skips whole
row groups). Both are free at read time once the write is sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAY_COL = "__day"


def write_archive(df: DataFrame, path: str, time_column: str,
                  sort_columns: tuple[str, ...] = ()) -> None:
    """Write a day-partitioned, sorted archive, replacing whatever
    ``path`` held (a store reclaims an uncommitted dir this way).

    At 100 TB: one shuffle on the day key (repartition by partition value
    → one task per output day, no small-file explosion), then an in-task
    sort — the same cost profile as the reference's per-day sort+merge."""
    out = df.withColumn(DAY_COL, F.date_format(time_column, "yyyy-MM-dd"))
    out = out.repartition(F.col(DAY_COL))
    if sort_columns:
        # DAY_COL leads the sort: the dynamic-partition writer requires an
        # ordering on the partition key and would otherwise re-sort the
        # task's rows, destroying the sort-column order inside each file
        out = out.sortWithinPartitions(DAY_COL, *sort_columns)
    out.write.mode("overwrite").partitionBy(DAY_COL).parquet(path)
