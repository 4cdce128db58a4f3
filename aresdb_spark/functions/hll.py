"""HLL / approximate distinct counting.

Reference: hll(x)/countdistincthll(x) with 2^14 registers, mergeable
sparse/dense binary sketches (query/hll.go, query/hll.cu, binary format
query/common/hll.go:43-68).

Capability parity on Spark:
  - query-time approx distinct → the AQL compiler's hll(x) template,
    approx_count_distinct (HLL++ built-in) at Spark's default rsd 0.05
  - *mergeable, persistable* sketches (the reason the reference has a
    binary format: brokers merge datanode sketches; dashboards merge
    day-sketches) → hll_sketch_agg / hll_sketch_estimate / hll_union
    (Spark 3.5+ Apache DataSketches builtins), wrapped here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_sketch(col: Column, lg_k: int = 14) -> Column:
    """Mergeable binary sketch (DataSketches HLL), lgConfigK=14 to mirror
    the reference's 2^14 registers."""
    return F.hll_sketch_agg(col, F.lit(lg_k))


def hll_estimate(sketch: Column) -> Column:
    return F.hll_sketch_estimate(sketch)


def hll_merge(sketch: Column) -> Column:
    """Merge sketches across groups (re-aggregation, the broker-merge
    analog: broker/result_merge.go + query/common/hll.go:141-208)."""
    return F.hll_union_agg(sketch)


def daily_distinct_rollup(df: DataFrame, ts_col: str, key_col: str) -> DataFrame:
    """Pattern the reference serves with HLL binary results: persist one
    sketch per (day), then answer any date-range distinct query by
    merging day sketches — no rescan of raw data."""
    by_day = df.groupBy(F.date_trunc("day", F.col(ts_col)).alias("day")).agg(
        hll_sketch(F.col(key_col)).alias("sketch"))
    return by_day


def estimate_over_days(day_sketches: DataFrame) -> DataFrame:
    return day_sketches.agg(
        hll_estimate(hll_merge(F.col("sketch"))).alias("distinct_estimate"))


# --- reference-exact register pipeline (application/hll interop) -----------

def hll_registers(df: DataFrame, dims: list[str], col: str) -> DataFrame:
    """Per-group HLL registers with the reference's EXACT derivation
    (murmur3 x64-128 of the little-endian uint32 value, index = low 14
    bits, rho = zeros above — query/functor.hpp:430-478), so sketches
    built here merge correctly with sketches from a reference deployment.

    Scale shape: the register value is computed scan-side in one
    Arrow-batched vectorized pandas UDF (numpy, no per-row Python), then
    a single hash aggregation on (dims, index) with map-side partial max —
    output bounded by groups x 2^14 rows regardless of input size.
    """
    from pyspark.sql.functions import pandas_udf

    from aresdb_spark.functions.hll_wire import hll_values_u32

    @pandas_udf("long")
    def _hll_value(v: pd.Series) -> pd.Series:
        import numpy as np
        mask = v.notna()
        out = pd.Series(0, index=v.index, dtype="int64")
        if mask.any():
            out[mask] = hll_values_u32(
                v[mask].to_numpy(dtype="int64").astype(np.uint32)).astype("int64")
        return out.where(mask)

    # null filter on the INPUT column, not the UDF output — filtering the
    # output makes Catalyst evaluate the Arrow UDF twice (once for the
    # predicate, once for the projection) and blocks scan pushdown
    reg = df.filter(F.col(col).isNotNull()) \
        .select(*dims, _hll_value(F.col(col)).alias("__hv"))
    # serialized registers store rho + 1 (the reference adds it when
    # writing the hll vector — CopyHLLFunctor, query/functor.hpp:1363-1364:
    # "rho must plus 1"); max(raw)+1 == max(raw+1), so add after the agg
    return reg.groupBy(
        *dims,
        (F.col("__hv") % (1 << 16)).cast("int").alias("reg_index")).agg(
        (F.max(F.shiftright("__hv", 16)) + 1).cast("int").alias("rho"))


def hll_distinct(df: DataFrame, dims: list[str], col: str) -> DataFrame:
    """Distinct estimate per group via the reference's own estimator
    (linear counting below 15500, raw HLL above — hll_wire.HLL.compute).
    Registers aggregate distributed; only the per-group register lists
    (<= 2^14 entries each) pass through the final grouped pandas stage."""
    from aresdb_spark.functions.hll_wire import HLL

    regs = hll_registers(df, dims, col)

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in regs.schema.fields
                       if f.name in dims) + ", estimate double"

    def _estimate(key, pdf):
        h = HLL(sparse=list(zip(pdf["reg_index"].astype(int),
                                pdf["rho"].astype(int))),
                non_zero=len(pdf))
        return pd.DataFrame([(*key, h.compute())],
                            columns=[*dims, "estimate"])

    return regs.groupBy(*dims).applyInPandas(_estimate, schema)
