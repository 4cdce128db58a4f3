"""Deterministic sampling / splitting / ordering for training-data prep.

A 100 TB corpus pipeline needs reproducible answers to "which split is
this row in", "give me 1% of stratum X", and "shuffle the corpus" — all
WITHOUT a random() call, because reruns (and the DuckDB oracle) must
agree row-for-row. Everything here keys off a committed md5-derived
bucket of the row id:

  - ``hash_bucket``          stable bucket in [0, n) from the id
  - ``hash_split``           train/val/test assignment by bucket ranges
  - ``hash_sample``          keep a deterministic fraction
  - ``stratified_sample``    per-stratum fractions (scan-side CASE, no join)
  - ``shuffle_key``          pseudorandom sort key for corpus shuffling

Scale notes: every function is a pure scan-side Column expression — zero
shuffle, zero UDF. ``shuffle_key`` + ``orderBy`` is a distributed range
sort (the one intentionally-global shuffle a corpus shuffle needs);
writers that only need decorrelation can ``repartition(shuffle_key)``
instead and skip the total order.

The reference has no sampling surface (its queries are aggregations);
these extend the engine for the training-pipeline workload the way
SURVEY §2's LLM-data operators do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPLIT_BUCKETS = 10_000  # fraction resolution: 0.01% granularity


def _hash_bucket(c: Column, n: int, salt: str) -> Column:
    # md5-derived so DuckDB can reproduce it exactly (Spark's murmur3
    # `hash()` has no DuckDB equivalent); 28 hex-free bits >> n buckets
    return (F.conv(F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))),
                               1, 7), 16, 10).cast("long") % n).cast("int")


def _hash_bucket_sql(expr: str, n: int, salt: str) -> str:
    return (f"(('0x' || substr(md5('{salt}' || ({expr})::VARCHAR), 1, 7))::BIGINT"
            f" % {n})::INT")


def hash_bucket(id_col: Column, n_buckets: int = SPLIT_BUCKETS,
                salt: str = "") -> Column:
    """Stable bucket in [0, n_buckets) for a row id. Same id → same
    bucket on every run, every engine, every cluster size."""
    return _hash_bucket(id_col, n_buckets, salt)


def hash_bucket_sql(expr: str, n_buckets: int = SPLIT_BUCKETS,
                    salt: str = "") -> str:
    return _hash_bucket_sql(expr, n_buckets, salt)


def split_label(id_col: Column, splits: dict[str, float],
                salt: str = "split") -> Column:
    """Deterministic split assignment ('train'/'val'/'test'/...) by
    cumulative bucket ranges. `splits` maps label → fraction; fractions
    must sum to 1 (± bucket resolution). Scan-side, shuffle-free."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    b = _hash_bucket(id_col, SPLIT_BUCKETS, salt)
    expr = None
    hi = 0.0
    items = list(splits.items())
    for label, frac in items[:-1]:
        hi += frac
        cond = b < int(round(hi * SPLIT_BUCKETS))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = items[-1][0]
    return (F.lit(last) if expr is None else expr.otherwise(F.lit(last)))


def split_label_sql(expr: str, splits: dict[str, float],
                    salt: str = "split") -> str:
    b = _hash_bucket_sql(expr, SPLIT_BUCKETS, salt)
    items = list(splits.items())
    whens = []
    hi = 0.0
    for label, frac in items[:-1]:
        hi += frac
        whens.append(f"WHEN {b} < {int(round(hi * SPLIT_BUCKETS))} THEN '{label}'")
    return f"(CASE {' '.join(whens)} ELSE '{items[-1][0]}' END)"


def hash_split(df: DataFrame, id_col: str, splits: dict[str, float],
               salt: str = "split", label_col: str = "split") -> DataFrame:
    """Attach the split label column (train/val/test assignment)."""
    return df.withColumn(label_col, split_label(F.col(id_col), splits, salt))


def hash_sample(df: DataFrame, id_col: str, fraction: float,
                salt: str = "sample") -> DataFrame:
    """Keep a deterministic `fraction` of rows (reproducible alternative
    to df.sample): row survives iff its bucket < fraction·resolution."""
    cut = int(round(fraction * SPLIT_BUCKETS))
    return df.filter(_hash_bucket(F.col(id_col), SPLIT_BUCKETS, salt) < cut)


def hash_sample_sql_pred(expr: str, fraction: float, salt: str = "sample") -> str:
    cut = int(round(fraction * SPLIT_BUCKETS))
    return f"{_hash_bucket_sql(expr, SPLIT_BUCKETS, salt)} < {cut}"


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      fractions: dict[str, float], default: float = 0.0,
                      salt: str = "strata") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample low-quality
    languages, keep all of rare ones). `fractions` maps stratum value →
    keep fraction; strata not listed keep `default`.

    The fractions map is a tiny literal CASE chain — scan-side, no join,
    no shuffle; at 100 TB this costs the same as any row filter."""
    b = _hash_bucket(F.col(id_col), SPLIT_BUCKETS, salt)
    cut = None
    for value, frac in fractions.items():
        n = int(round(frac * SPLIT_BUCKETS))
        cond = F.col(strata_col) == value
        cut = F.when(cond, n) if cut is None else cut.when(cond, n)
    cut = F.lit(int(round(default * SPLIT_BUCKETS))) if cut is None \
        else cut.otherwise(int(round(default * SPLIT_BUCKETS)))
    return df.filter(b < cut)


def stratified_sample_sql_pred(strata_expr: str, id_expr: str,
                               fractions: dict[str, float], default: float = 0.0,
                               salt: str = "strata") -> str:
    b = _hash_bucket_sql(id_expr, SPLIT_BUCKETS, salt)
    whens = " ".join(
        f"WHEN {strata_expr} = '{v}' THEN {int(round(f * SPLIT_BUCKETS))}"
        for v, f in fractions.items())
    cut = f"(CASE {whens} ELSE {int(round(default * SPLIT_BUCKETS))} END)"
    return f"{b} < {cut}"


def shuffle_key(id_col: Column, seed: str = "0") -> Column:
    """Pseudorandom-but-deterministic sort key for corpus shuffling:
    ``df.orderBy(shuffle_key(col('id'), seed)`` is a reproducible global
    shuffle (distributed range sort). Different seed → different order."""
    return F.md5(F.concat(F.lit(seed), id_col.cast("string")))


def weighted_sample(df: DataFrame, id_col: str, weight: Column,
                    salt: str = "weighted") -> DataFrame:
    """Deterministic per-row weighted sampling: each row survives with
    probability clamp(weight, 0, 1) — e.g. keep documents proportionally
    to their quality score. floor() (not round) maps the weight to a
    bucket cut so both engines agree bit-for-bit. Scan-side row filter,
    no shuffle, reproducible across runs/engines/cluster sizes."""
    b = _hash_bucket(F.col(id_col), SPLIT_BUCKETS, salt)
    w = F.least(F.greatest(weight.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(b < F.floor(w * SPLIT_BUCKETS))


def weighted_sample_sql_pred(id_expr: str, weight_expr: str,
                             salt: str = "weighted") -> str:
    b = _hash_bucket_sql(id_expr, SPLIT_BUCKETS, salt)
    w = f"least(greatest(({weight_expr})::DOUBLE, 0), 1)"
    return f"{b} < floor({w} * {SPLIT_BUCKETS})"


def cap_per_group(df: DataFrame, group_cols: list[str], id_col: str,
                  n: int, salt: str = "cap") -> DataFrame:
    """Quota enforcement: keep at most ``n`` rows per group (e.g. cap
    documents per source/domain so one crawl host can't dominate the
    corpus). Selection is deterministic but unbiased: rows are ranked by
    their salted id hash, so the survivors are a stable pseudo-random
    subset, not "first n by id". One shuffle on the group keys
    (row_number window + WindowGroupLimit, same plan as top-N)."""
    from aresdb_spark.operators.topn import topn_per_group
    order = [_hash_bucket(F.col(id_col), SPLIT_BUCKETS, salt).asc(),
             F.col(id_col).asc()]
    return topn_per_group(df, group_cols, order, n).drop("rn")


def cap_per_group_sql(source_sql: str, group_cols: list[str], id_col: str,
                      n: int, salt: str = "cap", select: str = "*") -> str:
    b = _hash_bucket_sql(id_col, SPLIT_BUCKETS, salt)
    part = ", ".join(group_cols)
    return (f"SELECT {select} FROM ({source_sql}) "
            f"QUALIFY row_number() OVER (PARTITION BY {part} "
            f"ORDER BY {b}, {id_col}) <= {n}")
