"""Shared operator utilities: expression let-binding, expression text,
the per-row Python map, the local-parallelism guard and plan sizing.
All exist for 100 TB-scale reasons — see docstrings."""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def let(bound: Column | str, body) -> Column | str:
    """Poor-man's let-binding: evaluate `bound` ONCE per row and feed it to
    `body` as a lambda variable (single-element array + transform).
    ``body`` is a Python function of that variable, or the text of a
    Spark-SQL lambda (``"x -> ..."``, see ``hof``). A ``bound`` given as
    SQL text (with a text ``body``) returns SQL text.

    Catalyst does not common-subexpression-eliminate across higher-order-
    function lambdas — without this, expressions that reference an
    expensive sub-expression N times (MinHash's 16 permutations, the text
    quality score's 3 token statistics) re-expand the whole pipeline N
    times per row. Measured 40× slowdown on the MinHash signature at
    sf0.1 before this fix."""
    if isinstance(bound, str):
        return f"element_at({hof('transform', f'array({bound})', body)}, 1)"
    arr = F.array(bound)
    return F.element_at(hof("transform", arr, body) if isinstance(body, str)
                        else F.transform(arr, body), 1)


# -- expression text: every Python-built Column node costs Py4J round
# trips; an expression list as SQL text is one selectExpr / filter(str) /
# F.expr (PERF_NOTES.md, "The freshness path builds its expressions as
# SQL text").


def ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier (inner backticks
    doubled): a dot, space or keyword in a column name stays part of
    the name."""
    return "`" + name.replace("`", "``") + "`"


def utc_naive(dt: datetime) -> datetime:
    """``dt`` as a naive UTC wall time; a naive ``dt`` already is one."""
    return dt.astimezone(timezone.utc).replace(tzinfo=None) \
        if dt.tzinfo is not None else dt


def lit(value) -> str:
    """SQL text of a literal typed like ``F.lit(value)`` — except that a
    ``datetime`` is the absolute UTC instant (a naive one read as UTC)
    whatever the driver process's ``TZ``: ``F.lit`` converts a naive
    datetime in the process's local zone."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, datetime):
        return f"TIMESTAMP_LTZ '{utc_naive(value).isoformat(sep=' ')}Z'"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def sql_type(dt: T.DataType) -> str:
    """SQL text of ``dt`` for ``CAST``: struct field names quoted
    (``struct<a b:int>`` does not parse) and ``timestamp_ltz`` spelled
    out (``spark.sql.timestampType`` cannot change it). SQL types have
    no non-null array element or map value: those cast to nullable."""
    if isinstance(dt, T.StructType):
        return "struct<" + ", ".join(
            f"{ident(f.name)}: {sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL") for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    if isinstance(dt, T.TimestampType):
        return "timestamp_ltz"
    return dt.simpleString()


def hof(name: str, arg: Column | str, fn: str) -> Column | str:
    """Higher-order function ``name`` over ``arg`` with a lambda given as
    SQL text (``"x -> ..."``): the lambda parses JVM-side in one call,
    where a Python lambda costs ~33 Py4J round trips. An ``arg`` given as
    SQL text returns SQL text."""
    if isinstance(arg, str):
        return f"{name}({arg}, {fn})"
    return F.call_function(name, arg, F.expr(fn))


# -- the per-row Python map: every media operator and synthetic payload
# generator is a row function plus an output schema over this one
# Arrow-batched mapInPandas.

# integer column types built as nullable integer arrays: a NULL in a
# plain list would turn the column float64, which rounds past 2^53
_INT_DTYPES = {T.LongType: "Int64", T.IntegerType: "Int32"}
PAYLOAD_SCHEMA = "media_id BIGINT NOT NULL, payload BINARY NOT NULL"


def _column(values, dt: T.DataType):
    if isinstance(dt, T.LongType):
        # a 64-bit hash with bit 63 set rides as its two's complement
        values = [v - (1 << 64) if v is not None and v >= 1 << 63 else v
                  for v in values]
    dtype = _INT_DTYPES.get(type(dt))
    return pd.array(values, dtype=dtype) if dtype \
        else pd.Series(values, dtype=object)


def map_rows(df: DataFrame, cols: "list[str]", schema: str,
             fn: "Callable[..., Iterable[tuple]]") -> DataFrame:
    """``df`` pruned to ``cols``, then ONE Arrow-batched ``mapInPandas``
    that calls ``fn(*row)`` on each input row — values as Python
    objects (int, bytes, str, None) — and emits the zero or more
    tuples ``fn`` returns, in the field order of ``schema`` (DDL text,
    ``NOT NULL`` where a column cannot be NULL). The pruning keeps
    payload bytes off the Arrow transfer of every column the row does
    not read; payloads never round-trip through Spark Row objects."""
    out = T.StructType.fromDDL(schema)

    def run(batches: "Iterable[pd.DataFrame]") -> "Iterable[pd.DataFrame]":
        for pdf in batches:
            rows = [r for row in zip(*(pdf[c].tolist() for c in cols))
                    for r in fn(*row)]
            columns = list(zip(*rows)) or [()] * len(out.fields)
            yield pd.DataFrame({f.name: _column(v, f.dataType)
                                for f, v in zip(out.fields, columns)})

    return df.select(*cols).mapInPandas(run, schema=out)


def map_payloads(ids: DataFrame, id_col: str,
                 payload_of: "Callable[[int], bytes]") -> DataFrame:
    """(media_id, payload) with ``payload_of(d)`` for each id ``d`` of
    ``ids[id_col]``, built executor-side: the one shape of every
    synthetic media generator."""
    return map_rows(ids, [id_col], PAYLOAD_SCHEMA,
                    lambda d: [(d, payload_of(d))])


# Forced-broadcast ceiling: a relation planned at or under this many
# bytes may carry an explicit broadcast (a dimension join's hint, the hot
# store's pending-PK probe); a larger one is left to Catalyst/AQE, which
# may still broadcast under spark.sql.autoBroadcastJoinThreshold or pick
# a shuffle join. The broadcast side is built on the driver and copied to
# every executor (the observed HashedRelation is ~13x the on-disk
# parquet: 14 MB of `part` at the x100 tier builds a 192 MiB relation),
# so an unbounded forced broadcast is an OOM at scale. 64 MB matches
# get_spark's autoBroadcastJoinThreshold; every bench and contract dim
# (<= 14 MB even at x100) fits, so those plans keep the hint.
BROADCAST_MAX_BYTES = 64 * 1024 * 1024

# Upper clamp of write_files: a write whose input is not plan-sized (an
# RDD-backed frame, a streaming micro-batch) reports Long.MaxValue bytes
# and lands this many files, never its source's partition count.
MAX_WRITE_FILES = 8


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized logical plan, in
    bytes, without running it: 0 Spark jobs. A file scan reports its
    files' bytes through Hadoop's FileSystem (so a ``file:`` or remote
    URI sizes like a local path); operators scale their child's
    estimate. An RDD-backed relation (``createDataFrame`` of a list)
    reports Long.MaxValue: unknown counts as big."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def fits_broadcast(df: DataFrame) -> bool:
    """Whether ``df`` is planned small enough to force a broadcast of
    (``BROADCAST_MAX_BYTES``)."""
    return plan_bytes(df) <= BROADCAST_MAX_BYTES


def write_files(df: DataFrame) -> int:
    """How many files a store write of ``df`` lands: one per
    ``spark.sql.files.maxPartitionBytes`` of planned bytes — the split
    size a later scan reads them back at — clamped to
    [1, ``MAX_WRITE_FILES``]. Coalesce the write to it: a micro-batch
    otherwise inherits its source's partitioning (a 4-way local frame of
    500 rows lands 4 tiny files), a rewrite its shuffle width."""
    split = df.sparkSession._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    return max(1, min(MAX_WRITE_FILES, -(-plan_bytes(df) // split)))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition only when the input would run on fewer partitions
    than the cluster has slots (e.g. one small local parquet file → 1
    task on 32 cores). At scale a 100 TB scan already has ≫ cores
    partitions, so this is a no-op — no extra shuffle is introduced.

    Decided from the physical plan, without running it: counting through
    ``df.rdd`` executes an adaptive plan's broadcast and shuffle stages
    (two Spark jobs on a broadcast semi-join) only to read a number. A
    plan with a shuffle keeps its partitions; otherwise the count is the
    scans' JVM-side RDD partitions (see ``_planned_partitions``)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _planned_partitions(df._jdf.queryExecution().executedPlan())
    if n is not None and n < target:
        return df.repartition(target)
    return df


def _planned_partitions(plan) -> "int | None":
    """Output partitions of a physical plan (a py4j ``SparkPlan``), or
    None when a shuffle sets them. Without a shuffle they come from the
    leaves: summed over a union, and a broadcast build side contributes
    none (a broadcast join keeps its streamed side's partitions). An
    adaptive plan is read in its initial form, a cached one through its
    cached plan. A leaf's RDD is built but not run."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _planned_partitions(plan.executedPlan())
    if name == "InMemoryTableScanExec":
        return _planned_partitions(plan.relation().cachedPlan())
    if name == "ReusedExchangeExec":
        return _planned_partitions(plan.child())
    if name.startswith("Broadcast") and name.endswith(
            ("ExchangeExec", "QueryStageExec")):
        return 0
    if name.endswith(("ExchangeExec", "QueryStageExec")):
        return None
    kids = plan.children()
    if kids.isEmpty():
        return plan.execute().getNumPartitions()
    counts = [_planned_partitions(kids.apply(i)) for i in range(kids.size())]
    if None in counts:
        return None
    return sum(counts) if name == "UnionExec" else max(counts)
