"""Custom stateful streaming operators via applyInPandasWithState.

The reference's live store dedups by primary key with its cuckoo index at
ingest time (memstore/ingestion.go:172-362): a record seen once is an
update, never a second row. The streaming analog for training-data
pipelines is cross-batch FIRST-SEEN dedup: emit each key (e.g. a document
fingerprint) the first time it ever appears and drop every later
occurrence — across micro-batches and across restarts.

Spark's built-in ``dropDuplicates`` on a stream keys state by the full
row and never expires without a watermark; this operator keeps ONE
boolean per key via ``applyInPandasWithState`` (Arrow-batched, grouped
state), so state size is O(distinct keys), the checkpoint persists it
across restarts (exactly-once replay), and per-key groups shuffle once on
the key — the same partitioning any dedup pays.

Batch twin (``first_seen_batch``) has identical semantics over a static
DataFrame and a plain-SQL oracle, so correctness is checkable outside
streaming mode.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window


def first_seen(sdf: DataFrame, key_cols: list[str],
               order_col: str | None = None,
               state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming cross-batch dedup: one output row per distinct key — its
    first-seen occurrence. Within a micro-batch, ``order_col`` picks the
    representative deterministically (min); without it, arrival order.
    State: a single boolean per key, checkpointed.

    ``state_ttl_ms`` bounds state for unbounded streams: a key unseen for
    that long (processing time) is evicted and would be re-emitted on its
    next appearance — the standard memory/recall trade for infinite-key
    dedup (the reference's live store solves it with retention-based
    purge of the PK index, memstore/purge.go). Each arrival refreshes the
    key's clock. Default (None) keeps state forever: exact dedup, state
    O(distinct keys).

    A TTL stream never terminates on its own, not even under an
    ``availableNow`` trigger: the processing-time timeout always asks
    for one more (no-data) batch, so ``processAllAvailable()`` never
    returns either. Its caller must ``stop()`` the query (for example
    once ``recentProgress`` shows the data batches)."""
    import pandas as pd

    out_schema = sdf.schema
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms
               else GroupStateTimeout.NoTimeout)

    def fn(key, pdfs: Iterator["pd.DataFrame"],
           state: GroupState) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            state.remove()  # evicted; next appearance re-emits
            return
        if state.exists:
            if state_ttl_ms:
                state.setTimeoutDuration(state_ttl_ms)  # refresh clock
            return  # key already emitted in an earlier batch
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = (pdf.sort_values(order_col).head(1) if order_col
                    else pdf.head(1))
            if best is None:
                best = cand
            elif order_col is not None:
                best = pd.concat([best, cand]).sort_values(order_col).head(1)
        if best is not None:
            state.update((True,))
            if state_ttl_ms:
                state.setTimeoutDuration(state_ttl_ms)
            yield best

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, "seen boolean", "append", timeout)


def first_seen_batch(df: DataFrame, key_cols: list[str],
                     order_col: str) -> DataFrame:
    """Batch twin: the first row (min ``order_col``) per key."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def first_seen_batch_oracle_sql(source_sql: str, key_cols: list[str],
                                order_col: str, select: str = "*") -> str:
    part = ", ".join(key_cols)
    return (f"SELECT {select} FROM ({source_sql}) "
            f"QUALIFY row_number() OVER "
            f"(PARTITION BY {part} ORDER BY {order_col}) = 1")
