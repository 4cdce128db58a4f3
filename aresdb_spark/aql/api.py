"""AQL request front door — the `POST /query/aql` analog.

Reference: api/query_handler.go:67-103 (HandleAQL → handleAQLInternal),
multi-query requests (AQLRequest.Queries[], query/common/aql.go:156-159),
response shape (AQLResponse, aql.go:160-166; per-query result format
query/common/aql_query_result.go:22-40).

Spark shape: parse JSON → Query dataclasses → Planner → DataFrame →
result shaper. Queries in one request run as independent Spark jobs over
the same SparkSession (the session's scheduler interleaves them; the
reference fans out to a worker pool the same way).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from aresdb_spark.aql import expr as E
from aresdb_spark.aql.model import Query, query_from_json
from aresdb_spark.aql.planner import Planner
from aresdb_spark.aql.result import to_aggregate_result, to_matrix_result
from aresdb_spark.catalog import Catalog
from aresdb_spark.operators.util import ident


def _is_aggregate_query(q: Query) -> bool:
    """Non-agg ⇔ no measure contains an aggregate call (measure literal 1
    marks a projection query, reference aql_compiler.go:1147-1154).
    Supporting measures count too — a composite query whose outer SELECT
    holds only derived ratios (each WITH leg lands in
    ``supporting_measures``) is aggregated by the planner and must be
    shaped as the nested aggregate map, not a matrix."""
    return any(E.contains_aggregate(E.parse(m.expr))
               for m in q.measures + q.supporting_measures)


def _run_one_with_context(spark: SparkSession, catalog: Catalog,
                          query: Query | dict[str, Any],
                          verbose: bool = False,
                          debug: bool = False) -> tuple[dict, dict | None]:
    """Plan + execute one query; under ``verbose`` (or ``debug``, which
    implies it) also build its serialized query context — the analog of
    the reference's per-query ``AQLQueryContext`` that verbose mode
    marshals into the response (api/query_handler.go:209-212, 228-230).
    The reference's context carries the compiled OOPK plan and, under
    debug, per-stage GPU timers; ours carries the Catalyst physical plan
    and, under debug, per-stage wall timings (compile = dataclasses →
    DataFrame, execute = Spark jobs + result shaping). Non-verbose calls
    return a None context and skip the plan-formatting JVM round-trip —
    the hot path pays nothing for the feature."""
    import time

    from aresdb_spark.aql.result import dim_key_formatters

    t0 = time.perf_counter()
    q = query_from_json(query) if isinstance(query, dict) else query
    df: DataFrame = Planner(spark, catalog).plan(q)
    is_agg = _is_aggregate_query(q)
    t1 = time.perf_counter()
    if is_agg:
        result = to_aggregate_result(df, n_dims=len(q.dimensions),
                                     dim_formatters=dim_key_formatters(q))
    else:
        result = to_matrix_result(df,
                                  dim_formatters=dim_key_formatters(q))
    t2 = time.perf_counter()

    if not (verbose or debug):
        return result, None
    from aresdb_spark.plans.audit import formatted_explain
    ctx: dict[str, Any] = {
        "table": q.table,
        "aggregate": is_agg,
        "dimensions": [d.expr for d in q.dimensions],
        "measures": [m.expr for m in q.measures],
        "physicalPlan": formatted_explain(df),
    }
    if debug:
        ctx["timings"] = {
            "compileMs": round((t1 - t0) * 1e3, 3),
            "executeMs": round((t2 - t1) * 1e3, 3),
            "totalMs": round((t2 - t0) * 1e3, 3),
        }
    return result, ctx


def execute_query(spark: SparkSession, catalog: Catalog | str,
                  query: Query | dict[str, Any]) -> dict:
    """Plan + execute one AQL query; return the reference-shaped result
    (nested dim map for aggregates, headers+matrixData for projections)."""
    if isinstance(catalog, str):
        catalog = Catalog(catalog)
    result, _ctx = _run_one_with_context(spark, catalog, query)
    return result


def plan_set_op(spark: SparkSession, catalog: Catalog | str, op: str,
                queries: list[Query]) -> DataFrame:
    """UNION [ALL] / INTERSECT / EXCEPT across ≥2 AQL queries (absent from
    the reference — a TODO at query/sql/readme:7 — and trivial on Spark;
    SURVEY §2.7). Schemas must align by column name."""
    if isinstance(catalog, str):
        catalog = Catalog(catalog)
    if len(queries) < 2:
        raise ValueError("set operation requires at least two queries")
    planner = Planner(spark, catalog)
    dfs = [planner.plan(q) for q in queries]
    out = dfs[0]
    for d in dfs[1:]:
        if op == "union":
            out = out.unionByName(d).distinct()
        elif op == "union all":
            out = out.unionByName(d)
        elif op == "intersect":
            out = out.intersect(d)
        elif op == "except":
            out = out.exceptAll(d).distinct()
        else:
            raise ValueError(f"unknown set op {op!r}")
    return out


def execute_request(spark: SparkSession, catalog: Catalog | str,
                    request: dict[str, Any] | str,
                    max_workers: int = 1) -> dict:
    """Multi-query fanout: {"queries": [...]} → {"results": [...],
    "errors": [...]} (errors list omitted when all queries succeed, like
    the reference's omitempty).

    Verbose / debug (reference api/query_handler.go:209-212, 268-270):
    request keys ``"verbose": 1`` and ``"debug": 1`` mirror the HTTP
    query params. verbose > 0 adds a ``"context"`` key — one serialized
    query context per query (compiled shape + Catalyst physical plan);
    debug > 0 FORCES verbose and adds per-stage wall timings to each
    context, exactly the reference's escalation rule.

    max_workers > 1 runs queries concurrently from driver threads (the
    reference's worker pool, api/query_handler.go:85-103) — Spark's
    scheduler interleaves the jobs across the cluster."""
    if isinstance(request, str):
        request = json.loads(request)
    if isinstance(catalog, str):
        catalog = Catalog(catalog)
    qobjs = request.get("queries", [])
    debug = int(request.get("debug", 0) or 0) > 0
    verbose = debug or int(request.get("verbose", 0) or 0) > 0

    def run(qobj) -> tuple[dict, dict | None, str | None]:
        try:
            result, ctx = _run_one_with_context(spark, catalog, qobj,
                                                verbose=verbose, debug=debug)
            return result, ctx, None
        except Exception as e:  # per-query isolation, like the reference
            return {}, None, str(e)

    if max_workers > 1 and len(qobjs) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            triples = list(pool.map(run, qobjs))
    else:
        triples = [run(q) for q in qobjs]
    results = [r for r, _, _ in triples]
    errors = [e for _, _, e in triples]
    out: dict[str, Any] = {"results": results}
    if verbose:
        out["context"] = [c for _, c, _ in triples]
    if any(e is not None for e in errors):
        out["errors"] = errors
    return out


# --- application/hll response (reference api/query_handler.go:382-420) -------

def _hll_sketches(spark: SparkSession, catalog: Catalog, q: Query,
                  register_cap: int, key=None, epoch_timestamps=False):
    """One HLL sketch per dimension-key group of ``q``'s single
    ``hll()`` / ``countdistincthll()`` measure, built from the
    reference-exact register pipeline (``hll_registers``). Measure-level
    row filters merge into the WHERE set like the single-measure planner
    rule, and the driver collect is bounded by ``register_cap``
    (``limit(N+1)`` inside the collect, then overflow raises).

    ``key(i, value, dtype)`` maps the i-th dimension value to its group
    key part (default: the value). ``epoch_timestamps`` converts
    timestamp dimensions to epoch seconds IN SPARK — PySpark's non-Arrow
    collect renders TimestampType via the driver OS timezone, so
    converting Python datetimes on the driver would shift the epoch on a
    non-UTC host. Returns ({key: HLL}, dim_names, {dim name: dtype});
    the dtypes are the dimensions' before any conversion."""
    import copy

    from aresdb_spark.functions.hll import hll_registers
    from aresdb_spark.functions.hll_wire import HLL

    ast = E.parse(q.measures[0].expr)
    if not isinstance(ast, E.Call) or \
            ast.func not in ("hll", "countdistincthll"):
        raise ValueError(
            "application/hll requires an hll()/countdistincthll() measure")
    if q.measures[0].filters:
        q = copy.deepcopy(q)
        q.filters = list(q.filters) + list(q.measures[0].filters)
    df, resolver, dim_sql, dim_names = Planner(spark, catalog)._filtered_rows(q)
    rows = df.selectExpr(
        *dim_sql, f"{E.compile_ast(ast.args[0], resolver)} AS __hv_in")
    dtypes = {n: t for n, t in rows.dtypes if n in dim_names}
    if epoch_timestamps and any(t.startswith("timestamp")
                                for t in dtypes.values()):
        rows = rows.selectExpr(
            *[f"CAST(unix_timestamp({ident(n)}) AS BIGINT) AS {ident(n)}"
              if dtypes[n].startswith("timestamp") else ident(n)
              for n in dim_names], "__hv_in")
    collected = hll_registers(rows, dim_names, "__hv_in") \
        .limit(register_cap + 1).collect()
    if len(collected) > register_cap:
        raise ValueError(
            f"hll register payload exceeds register cap ({register_cap}); "
            "raise register_cap= or reduce dimension cardinality")
    groups: dict[tuple, list[tuple[int, int]]] = {}
    for r in collected:
        k = tuple(r[n] if key is None else key(i, r[n], dtypes[n])
                  for i, n in enumerate(dim_names))
        groups.setdefault(k, []).append((r["reg_index"], r["rho"]))
    sketches = {}
    for k, sparse in groups.items():
        h = HLL(sparse=sorted(sparse), non_zero=len(sparse))
        if not h.convert_to_sparse():
            h.convert_to_dense()
        sketches[k] = h
    return sketches, dim_names, dtypes


def _hll_result_tree(spark: SparkSession, catalog: Catalog, q: Query,
                     register_cap: int = 8_000_000) -> dict:
    """One shard's nested AQL result with mergeable HLL SKETCH leaves
    (the form a datanode returns to the broker before ComputeHLLResult —
    query/common/hll.go:505-527): dim keys formatted exactly like
    ``to_aggregate_result`` (same ``dim_key_formatters``/``_key``
    pipeline, so a merged tree computes to the same shape as a
    single-store ``execute_query``), an ``HLL`` at each leaf."""
    from aresdb_spark.aql.result import _key, dim_key_formatters

    fmts = dim_key_formatters(q)

    def kf(i, v, dtype):
        if v is None or fmts[i] is None:
            return _key(v, float32=dtype == "float")
        return fmts[i](v)

    sketches, _, _ = _hll_sketches(spark, catalog, q, register_cap, key=kf)
    result: dict = {}
    for key, h in sketches.items():
        node = result
        for part in key[:-1]:
            node = node.setdefault(part, {})
        node[key[-1] if key else "NULL"] = h
    return result


def compute_hll_result(tree):
    """ComputeHLLResult analog (query/common/hll.go:505-527): replace
    every HLL sketch leaf with its computed estimate, recursively."""
    from aresdb_spark.functions.hll_wire import HLL

    if isinstance(tree, HLL):
        return tree.compute()
    if isinstance(tree, dict):
        return {k: compute_hll_result(v) for k, v in tree.items()}
    return tree


class QueryTimeoutError(RuntimeError):
    """A sharded query ran past its executor bound and its in-flight
    Spark jobs were cancelled — the analog of the broker's per-request
    context timeout (broker/executor.go:29 ``executorTimeoutSeconds=30``,
    :50 ``context.WithTimeout``): a straggler shard must fail the
    request, not hang the broker."""


# the reference broker's bound; pass explicitly — the default here is
# no timeout so library callers opt in (a batch backfill legitimately
# runs long)
EXECUTOR_TIMEOUT_SECONDS = 30.0

# total attempts per shard, the broker's scan-node retry loop
# (broker/query_plan_agg.go:37 rpcRetries=2, :167 `trial <= rpcRetries`;
# a canceled request is NOT retried, :171-176)
RPC_RETRIES = 2


def execute_query_sharded(spark: SparkSession, shard_dirs: list[str],
                          query: Query | dict[str, Any],
                          timeout_seconds: "float | None" = None,
                          max_workers: int = 1) -> dict:
    """Broker scatter/gather (broker/executor.go QueryExecutor +
    broker/query_plan_agg.go AggQueryPlan): execute the SAME aggregate
    AQL query independently on every shard root (one datanode's parquet
    dir) and fold the per-shard partial results with the result-merge
    algebra (aql/merge.py = broker/result_merge.go).

    The merge rule comes from the query's single aggregate measure, the
    same way the broker's plan builder reads it:
      - count/sum/min/max: partials merge leaf-wise;
      - avg: the broker's two-phase plan — a sum scatter and a count
        scatter (count(x) = ROW count per the reference compiler), each
        merged, then leaf-divided (query_plan_agg.go avg subplans);
      - hll: per-shard REGISTER trees merge sketch-wise, the estimate is
        computed once at the end (never average partial estimates).

    ``timeout_seconds`` bounds the WHOLE fan-out like the broker's
    request context (executorTimeoutSeconds=30, broker/executor.go:50):
    the scatter runs in its own Spark job group, a watchdog cancels the
    group's jobs once the deadline passes, and the call raises
    ``QueryTimeoutError``. Pass ``EXECUTOR_TIMEOUT_SECONDS`` for the
    reference's bound; default None = unbounded (library callers opt
    in).

    ``max_workers > 1`` submits the per-shard jobs CONCURRENTLY from
    driver threads — the reference broker queries its datanodes in
    parallel goroutines (broker/executor.go), and sequentially the
    gather's wall-clock is Σ(shards) instead of max(shards). Spark's
    scheduler interleaves the concurrent jobs across the cluster; the
    merge itself stays ordered and deterministic. Each worker thread
    re-tags itself with the scatter's job group (driver-side thread
    locals do not cross py4j connections), so the timeout watchdog
    cancels concurrent shards too.

    Inside one Spark cluster the shuffle does all of this; the surface
    exists for the cross-cluster / datanode topology the reference
    broker serves."""
    if timeout_seconds is None:
        return _scatter_gather(spark, shard_dirs, query,
                               max_workers=max_workers)

    import threading
    import time
    import uuid

    sc = spark.sparkContext
    group = f"aql-sharded-{uuid.uuid4().hex[:8]}"
    done = threading.Event()
    deadline = time.monotonic() + timeout_seconds

    def watchdog():
        while not done.wait(0.05):
            if time.monotonic() >= deadline:
                # cancel REPEATEDLY until the scatter thread notices:
                # cancelJobGroup kills only jobs active at call time,
                # and the scatter submits one job per shard
                sc.cancelJobGroup(group)

    guard = threading.Thread(target=watchdog, daemon=True)
    guard.start()
    # job groups are driver-thread-local, so this tags exactly the
    # scatter's jobs; interruptOnCancel interrupts running tasks
    sc.setJobGroup(group, f"execute_query_sharded "
                          f"(timeout {timeout_seconds}s)", True)
    try:
        return _scatter_gather(spark, shard_dirs, query,
                               max_workers=max_workers, job_group=group,
                               deadline=deadline)
    except Exception as e:
        # only a CANCELLATION past the deadline is a timeout — a genuine
        # query/data error that happens to surface after the deadline
        # must keep its own identity (mislabeling it would send the
        # caller retrying a deterministic failure)
        looks_cancelled = any(
            word in f"{type(e).__name__} {e}".lower()
            for word in ("cancel", "interrupt"))
        if time.monotonic() >= deadline and looks_cancelled:
            raise QueryTimeoutError(
                f"sharded query exceeded {timeout_seconds}s and its "
                f"in-flight shard jobs were cancelled (the broker's "
                f"executor bound, broker/executor.go:29)") from e
        raise
    finally:
        done.set()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def _scatter_gather(spark: SparkSession, shard_dirs: list[str],
                    query: Query | dict[str, Any],
                    max_workers: int = 1,
                    job_group: "str | None" = None,
                    deadline: "float | None" = None) -> dict:
    import copy
    import re
    import time

    from aresdb_spark.aql.merge import merge_aggregate_results

    if not shard_dirs:
        raise ValueError("sharded execution requires at least one shard")

    def fan_out(run_one) -> list:
        """Run ``run_one(shard_dir)`` across shards, concurrently when
        asked (the broker's parallel datanode goroutines); result order
        always follows shard order so every merge is deterministic.
        A failed shard call is retried like the broker's scan node
        (RPC_RETRIES total attempts) — but never past the request
        deadline (a canceled request is not retried,
        query_plan_agg.go:171-176)."""

        def attempt(d):
            if job_group is not None:
                # thread locals don't cross py4j connections — each
                # worker re-tags so the timeout watchdog reaches it
                spark.sparkContext.setJobGroup(
                    job_group, "execute_query_sharded worker", True)
            from pyspark.errors import AnalysisException

            last = None
            for _trial in range(RPC_RETRIES):
                try:
                    return run_one(d)
                except (AnalysisException, ValueError, KeyError):
                    # deterministic plan/validation failures — the
                    # reference retries only RPC-level fetch errors,
                    # not bad queries (re-running a full Spark query on
                    # a typo'd column doubles time-to-error for nothing)
                    raise
                except Exception as e:
                    last = e
                    if deadline is not None and \
                            time.monotonic() >= deadline:
                        break  # canceled, don't resubmit
            raise last

        if max_workers <= 1 or len(shard_dirs) == 1:
            return [attempt(d) for d in shard_dirs]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return list(pool.map(attempt, shard_dirs))

    q = query_from_json(query) if isinstance(query, dict) \
        else copy.deepcopy(query)
    if not _is_aggregate_query(q):
        # the broker's NON-agg plan (query_plan_non_agg.go:164-309):
        # datanode row streams append in order under a running limit —
        # the engine's default limit (1000, aql_compiler.go:38) is a
        # GLOBAL budget, not per-shard, so it applies to the gather too
        from aresdb_spark.aql.merge import merge_matrix_results
        parts = fan_out(
            lambda d: execute_query(spark, Catalog(d), copy.deepcopy(q)))
        return merge_matrix_results(
            parts, limit=q.limit if q.limit is not None else 1000)
    if len(q.measures) != 1:
        raise ValueError("sharded execution requires exactly one "
                         "aggregate measure (the broker's plan rule)")
    ast = E.parse(q.measures[0].expr)
    if not isinstance(ast, E.Call):
        raise ValueError("sharded execution requires an aggregate measure")
    agg = ast.func.lower()

    # per-shard aggregate subqueries must see EVERY group: a per-shard
    # limit/sort would truncate a different group set on each shard and
    # merge partial sums silently (the broker also merges full partials
    # and leaves topN to post-processing)
    q = copy.deepcopy(q)
    q.limit, q.sorts = None, []

    def scatter(qq: Query, kind: str) -> dict:
        parts = fan_out(
            lambda d: execute_query(spark, Catalog(d), copy.deepcopy(qq)))
        out = parts[0]
        for p in parts[1:]:
            out = merge_aggregate_results(out, p, kind)
        return out

    if agg in ("count", "sum", "min", "max"):
        return scatter(q, agg)
    if agg == "avg":
        # two-phase avg: a sum scatter and a count scatter, leaf-divided.
        # The count leg counts rows where the argument is NON-NULL so the
        # merged ratio equals the single-store Spark avg (null-skipping);
        # count(x) alone would be a row count per the reference-compiler
        # parity rule and silently shift the average on NULLs.
        arg = re.match(r"\s*avg\s*\((.*)\)\s*$", q.measures[0].expr,
                       re.I | re.S).group(1)
        qs = copy.deepcopy(q)
        qs.measures[0].expr = f"sum({arg})"
        qc = copy.deepcopy(q)
        qc.measures[0].expr = "count(*)"
        qc.filters = list(qc.filters) + [f"not (({arg}) is null)"]
        return merge_aggregate_results(scatter(qs, "sum"),
                                       scatter(qc, "count"), "avg")
    if agg in ("hll", "countdistincthll"):
        parts = fan_out(lambda d: _hll_result_tree(spark, Catalog(d), q))
        out = parts[0]
        for p in parts[1:]:
            out = merge_aggregate_results(out, p, "hll")
        return compute_hll_result(out)
    raise ValueError(f"unsupported sharded aggregate {agg!r} "
                     "(count|sum|min|max|avg|hll)")


def execute_request_hll(spark: SparkSession, catalog: Catalog | str,
                        request: dict[str, Any] | str,
                        row_cap: int = 100_000,
                        register_cap: int = 8_000_000) -> bytes:
    """The ``Content-Accept: application/hll`` analog: run each query's
    dimensions over the reference-exact register pipeline and serialize
    the binary envelope (magic 0xACED0102). Per-query errors become error
    records, like HLLQueryResponseWriter.ReportError.

    Each query must carry exactly one ``hll(col)`` / ``countdistincthll``
    measure (the reference serves this format only for hll queries).
    Two independent caps, enforced inside the collect via limit(N+1) and
    reported with distinct errors: ``row_cap`` bounds result rows
    (groups — the reference materializes the full result in memory the
    same way) and ``register_cap`` bounds the driver-collected register
    rows (memory: ~8M registers ≈ hundreds of MB of driver rows; a fully
    dense group holds up to 2^14 registers, so the default admits ~488
    dense groups or millions of sparse ones — dense-heavy workloads
    raise it explicitly)."""
    from aresdb_spark.functions.hll_wire import (DT_BOOL, DT_FLOAT32,
                                                 DT_INT8, DT_INT16, DT_INT32,
                                                 DT_INT64, DT_SMALL_ENUM,
                                                 DT_BIG_ENUM, DT_UINT32,
                                                 HLLQueryResultsWriter)

    if isinstance(request, str):
        request = json.loads(request)
    if isinstance(catalog, str):
        catalog = Catalog(catalog)

    writer = HLLQueryResultsWriter()
    for qobj in request.get("queries", []):
        try:
            q = query_from_json(qobj) if isinstance(qobj, dict) else qobj
            q.validate_strict()
            if len(q.measures) != 1:
                raise ValueError("application/hll requires exactly one measure")
            groups, dim_names, dtypes = _hll_sketches(
                spark, catalog, q, register_cap, epoch_timestamps=True)
            if len(groups) > row_cap:
                raise ValueError(
                    f"hll result exceeds row cap ({row_cap} groups)")
            data_types, converters, enum_dicts = [], [], {}
            for i, name in enumerate(dim_names):
                t = dtypes[name]
                if t == "boolean":
                    data_types.append(DT_BOOL)
                    converters.append(lambda v: None if v is None else int(v))
                elif t == "tinyint":
                    data_types.append(DT_INT8); converters.append(lambda v: v)
                elif t == "smallint":
                    data_types.append(DT_INT16); converters.append(lambda v: v)
                elif t == "int":
                    data_types.append(DT_INT32); converters.append(lambda v: v)
                elif t == "bigint":
                    data_types.append(DT_INT64); converters.append(lambda v: v)
                elif t in ("float", "double"):
                    data_types.append(DT_FLOAT32); converters.append(lambda v: v)
                elif t.startswith("timestamp"):
                    # reference time dims are Uint32 epoch seconds; the
                    # column was already cast to epoch long in Spark
                    data_types.append(DT_UINT32)
                    converters.append(lambda v: v)
                elif t == "string":
                    cases = sorted({k[i] for k in groups if k[i] is not None})
                    enum_dicts[i] = cases
                    data_types.append(
                        DT_SMALL_ENUM if len(cases) <= 256 else DT_BIG_ENUM)
                    converters.append(lambda v: v)
                else:
                    raise ValueError(f"unsupported hll dimension type {t!r}")

            out_rows = [
                ([conv(v) for conv, v in zip(converters, key)], groups[key])
                for key in sorted(groups,
                                  key=lambda k: tuple(str(x) for x in k))]
            writer.write_result(out_rows, data_types, enum_dicts)
        except Exception as e:  # per-query isolation
            writer.write_error(str(e))
    return writer.get_bytes()
