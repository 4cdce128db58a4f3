"""AQL Query → DataFrame planner.

This replaces the reference's entire compile+execute stack
(query/aql_compiler.go Compile → query/aql_processor.go ProcessQuery →
CUDA kernels): we *declare* the logical plan and Catalyst/Tungsten do the
physical planning (predicate pushdown, column pruning, broadcast hash
join, partial/final aggregation — SURVEY §4 verdict).

Pipeline shape mirrors the reference's per-batch stages
filter → join → project → reduce (query/aql_batchexecutor.go:26-39):

    scan fact (parquet, pushed filters)
      → time filter (partition-prunable range predicate)
      → row filters
      → LEFT broadcast join each dimension table
      → project dimensions (bucketizers) + measure inputs
      → groupBy(dims).agg(measures)   [or select+limit for non-agg]
      → sorts / limit

Every filter, join condition, projection, grouping, aggregate and sort
is Spark-SQL text from the AQL compiler (``expr.compile_ast``), handed to
Catalyst in one ``filter(str)`` / ``selectExpr`` / ``F.expr`` call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import aresdb_spark.functions.geo  # noqa: F401  (registers geography_intersects)
from aresdb_spark.aql import expr as E
from aresdb_spark.aql import timeutil
from aresdb_spark.aql.model import Dimension, Query
from aresdb_spark.catalog import Catalog
from aresdb_spark.operators.util import fits_broadcast, ident, lit


def _conjoin(conds: list[str]) -> str | None:
    """The SQL conjunction of ``conds``, left-nested; None when empty."""
    out = None
    for c in conds:
        out = c if out is None else f"({out} AND {c})"
    return out


class Planner:
    """Plans AQL queries against a Catalog."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    # -- resolution ---------------------------------------------------------

    @staticmethod
    def _tz_column_key(q: Query) -> str | None:
        """`timezone(join_key)` form → the join key column (reference
        parseTimezoneColumnString / processTimezone,
        query/aql_compiler.go:439-466)."""
        import re
        if q.timezone:
            m = re.fullmatch(r"timezone\((.+)\)", q.timezone.strip())
            if m:
                return m.group(1).strip()
        return None

    def _tz(self, q: Query):
        """Resolve Query.timezone to a ZoneInfo (None for UTC or for the
        timezone-column form, whose filter bounds stay UTC). Reference:
        ParseTimezone, query/common/time_filter.go:69-86."""
        if not q.timezone or q.timezone.upper() == "UTC" or self._tz_column_key(q):
            return None
        from zoneinfo import ZoneInfo
        try:
            return ZoneInfo(q.timezone)
        except Exception as e:
            raise ValueError(f"unknown timezone {q.timezone!r}") from e

    def _time_bounds(self, q: Query):
        """Resolve the TimeFilter endpoints (relative grammar, pinned now).

        Calendar alignment happens in the query timezone (reference:
        ParseTimeFilter does now.In(loc)); the returned bounds are
        normalized to UTC so all downstream comparisons against the
        UTC-typed time column are correct."""
        if q.time_filter is None:
            return None, None, None
        tcol = q.time_filter.column or self.catalog.table_def(q.table).time_column
        if tcol is None:
            raise ValueError(f"table {q.table} has no designated time column")
        now = None
        if q.now is not None:
            from datetime import datetime, timezone
            now = datetime.fromtimestamp(q.now, tz=timezone.utc)
        lo, hi = timeutil.time_filter_bounds(
            q.time_filter.from_, q.time_filter.to, now, tz=self._tz(q))
        from datetime import timezone as _tzmod
        lo = lo.astimezone(_tzmod.utc) if lo is not None else None
        hi = hi.astimezone(_tzmod.utc) if hi is not None else None
        return tcol, lo, hi

    @staticmethod
    def _geo_condition(cond_text: str):
        """Detect a geo join condition: `[not] geography_intersects(...)`.
        Returns (is_geo, negated). Reference: matchGeoJoin,
        query/aql_compiler.go:199-257."""
        ast = E.parse(cond_text)
        negated = False
        if isinstance(ast, E.Unary) and ast.op in ("!", "not"):
            ast, negated = ast.operand, True
        return (isinstance(ast, E.Call) and ast.func == "geography_intersects",
                negated)

    def _promote_time_filters(self, q: Query, tcol: str):
        """Fact query without a timeFilter: promote literal row-filter
        comparisons on the designated time column into the scan's raw
        time range so parquet row-group/partition pruning still happens
        (reference filter→time-filter promotion,
        query/aql_compiler.go:104-167). The original filter still applies
        post-scan — the promotion only ADDS the pushable range."""
        from datetime import datetime, timedelta, timezone

        def lit_dt(node):
            if not isinstance(node, E.Lit):
                return None
            v = node.value
            if isinstance(v, (int, float)) and v > 9_999_999:
                v = int(v)
                if v > 99_999_999_999:
                    # reference: epoch values above 99999999999 are
                    # milliseconds (time_filter.go:316-318)
                    v //= 1000
                try:
                    return datetime.fromtimestamp(v, tz=timezone.utc)
                except (OverflowError, OSError, ValueError):
                    return None
            if isinstance(v, str):
                try:
                    return timeutil.parse_time_window(v)[0]
                except ValueError:
                    return None
            return None

        lo = hi = None
        for f in q.filters:
            try:
                ast = E.parse(f)
            except Exception:
                continue
            if isinstance(ast, E.Binary) and isinstance(ast.left, E.Col) \
                    and ast.left.name in (tcol, f"{q.table}.{tcol}"):
                v = lit_dt(ast.right)
                if v is None:
                    continue
                if ast.op in (">=", ">"):
                    lo = v if lo is None else max(lo, v)
                elif ast.op == "<":
                    hi = v if hi is None else min(hi, v)
                elif ast.op == "<=":
                    h = v + timedelta(seconds=1)
                    hi = h if hi is None else min(hi, h)
            elif isinstance(ast, E.Between) and isinstance(ast.operand, E.Col) \
                    and ast.operand.name in (tcol, f"{q.table}.{tcol}") \
                    and not ast.negated:
                vlo, vhi = lit_dt(ast.low), lit_dt(ast.high)
                if vlo is not None:
                    lo = vlo if lo is None else max(lo, vlo)
                if vhi is not None:
                    h = vhi + timedelta(seconds=1)
                    hi = h if hi is None else min(hi, h)
        return (lo, hi) if (lo is not None or hi is not None) else None

    def _timestamp_time_cols(self, q: Query, df) -> set[str]:
        """Names (bare + table-qualified) under which the fact table's
        time column can appear in a filter, when that column is
        timestamp-typed in the loaded frame."""
        tcol = self.catalog.table_def(q.table).time_column
        if tcol is None:
            return set()
        dt = dict(df.dtypes).get(tcol, "")
        if not dt.startswith("timestamp"):
            return set()
        return {tcol, f"{q.table}.{tcol}"}

    def _epochify_time_literals(self, ast, tcols: set[str]):
        """Rewrite numeric epoch literals compared against the (timestamp-
        typed) time column into timestamp strings. The reference stores
        time columns as Uint32 epoch seconds, so `ts >= 1540399020` is a
        native numeric comparison there (and values above 99999999999 are
        taken as MILLISECONDS, time_filter.go:316-318); here the column is
        a real timestamp, so the literal converts instead. Strings coerce
        in Spark comparisons for both timestamp and timestamp_ntz, which a
        datetime literal would not."""
        from datetime import datetime, timezone

        CMP = {">", ">=", "<", "<=", "=", "==", "!=", "<>"}

        def is_tcol(n):
            return isinstance(n, E.Col) and n.name in tcols

        def to_ts(n):
            if isinstance(n, E.Lit) and isinstance(n.value, (int, float)) \
                    and not isinstance(n.value, bool) \
                    and n.value > 9_999_999:
                v = int(n.value)
                if v > 99_999_999_999:
                    v //= 1000
                try:
                    dt = datetime.fromtimestamp(v, tz=timezone.utc)
                except (OverflowError, OSError, ValueError):
                    return n
                return E.Lit(dt.strftime("%Y-%m-%d %H:%M:%S"))
            return n

        def walk(n):
            if isinstance(n, E.Binary):
                if n.op in CMP:
                    if is_tcol(n.left):
                        return E.Binary(n.op, n.left, to_ts(n.right))
                    if is_tcol(n.right):
                        return E.Binary(n.op, to_ts(n.left), n.right)
                    return n
                return E.Binary(n.op, walk(n.left), walk(n.right))
            if isinstance(n, E.Unary):
                return E.Unary(n.op, walk(n.operand))
            if isinstance(n, E.Between) and is_tcol(n.operand):
                return E.Between(n.operand, to_ts(n.low), to_ts(n.high),
                                 n.negated)
            if isinstance(n, E.InList) and is_tcol(n.operand):
                return E.InList(n.operand, [to_ts(i) for i in n.items],
                                n.negated)
            return n

        return walk(ast) if tcols else ast

    def _dim_only_filters(self, q: Query, alias: str) -> list[int]:
        """Indices of row filters referencing ONLY columns of `alias` —
        these prune the (broadcast) dimension side BEFORE the join, the
        generalization of the reference's shape-UUID geo filter
        (matchGeoFilter, query/aql_compiler.go:909-986)."""
        out = []
        for i, f in enumerate(q.filters):
            refs = E.column_refs(E.parse(f))
            if refs and all(r.startswith(alias + ".") for r in refs):
                out.append(i)
        return out

    def _build_joined(self, q: Query) -> tuple[DataFrame, E.Resolver, set[int], str | None]:
        """Scan fact table and join every dimension table.

        Regular dimension joins: LEFT broadcast hash join (reference
        hash-lookup semantics, miss ⇒ null row,
        query/aql_batchexecutor.go:116-166 + query/hash_lookup.cu).

        Geo joins (condition = geography_intersects): the shape table is
        pre-pruned by its own filters (the shape-UUID filter analog), then
        INNER-joined (inOrOut=true drops rows outside every candidate
        shape) or LEFT-ANTI for the negated form — reference
        geoIntersection semantics (aql_compiler.go:199-257, 909-986). A
        geo dimension (shape pk / hex(pk)) then works as a plain post-join
        column. Shapes must be non-overlapping for exact reference parity
        (the GPU kernel records a single shape index per point).

        The time filter is pushed into the fact scan (raw-column range
        predicate → parquet row-group pruning) rather than applied after
        the join. Returns (df, resolver, consumed_filter_indices, tz_sql):
        tz_sql is the per-row timezone's SQL text under a timezone-column
        join, else None.
        """
        tcol, lo, hi = self._time_bounds(q)
        default_tcol = self.catalog.table_def(q.table).time_column
        push_range = (lo, hi) if tcol is not None and tcol == default_tcol else None
        if push_range is None and default_tcol is not None:
            push_range = self._promote_time_filters(q, default_tcol)
        fact = self.catalog.load(self.spark, q.table, time_range=push_range).alias(q.table)
        aliases = {q.table}
        df = fact
        consumed: set[int] = set()
        geo_seen = False
        for j in q.joins:
            dim = self.catalog.load(self.spark, j.table).alias(j.name)
            aliases.add(j.name)
            if not j.conditions:
                raise ValueError(f"join to {j.table} requires conditions")
            dim_def = self.catalog.table_def(j.table)

            geo_flags = [self._geo_condition(c) for c in j.conditions]
            if any(g for g, _ in geo_flags):
                if len(j.conditions) != 1:
                    raise ValueError("at most one join condition allowed per geo join "
                                     "(ref aql_compiler.go:214-217)")
                if dim_def.is_fact:
                    raise ValueError("only dimension table is allowed in geo join")
                if geo_seen:
                    raise ValueError("at most one geo join per query")
                geo_seen = True
                negated = geo_flags[0][1]
                # pre-prune candidate shapes with the join's own filters
                dim_resolver = self._resolver({j.name}, q)
                for i in self._dim_only_filters(q, j.name):
                    dim = dim.filter(E.compile_expr(q.filters[i], dim_resolver))
                    consumed.add(i)
                ast = E.parse(j.conditions[0])
                if negated:
                    ast = ast.operand  # anti join needs the POSITIVE predicate
                # the reference accepts either argument order and swaps
                # so the SHAPE side is first (query_context_helper.go:
                # 520-523); the shape column lives on the joined dim
                if isinstance(ast, E.Call) and len(ast.args) == 2:
                    def on_dim(a):
                        # any column ref on the joined shape table, so a
                        # wrapped shape (geo_shape(g.wkt)) counts too
                        return any(r.startswith(f"{j.name}.")
                                   for r in E.column_refs(a))
                    # exactly ONE argument must be the joined shape
                    # table's column (the reference type-checks one
                    # GeoShape + one GeoPoint and errors otherwise —
                    # aql_compiler_test.go:2343-2423; same message)
                    if on_dim(ast.args[0]) == on_dim(ast.args[1]):
                        raise ValueError(
                            "expect exactly one geo shape column and one "
                            "geo point column for geography_intersects, "
                            "got geography_intersects")
                    if on_dim(ast.args[1]):
                        ast = E.Call(ast.func,
                                     [ast.args[1], ast.args[0]])
                cond = F.expr(E.compile_ast(ast, self._resolver(aliases, q)))
                if negated:
                    # the reference kernel removes NULL points from BOTH
                    # the in and not-in results (a null test point writes
                    # !inOrOut to the predicate and GeoRemoveFilter drops
                    # it either way — iterator.hpp:1378-1388,
                    # geo_intersects.cu:217-228); the anti join alone
                    # would keep them, so filter them out first
                    fact_resolver = self._resolver(aliases - {j.name}, q)
                    for parg in (isinstance(ast, E.Call)
                                 and ast.args[1:] or []):
                        pc = E.compile_ast(parg, fact_resolver)
                        if len(ast.args) == 2:  # struct point column
                            df = df.filter(f"(({pc}.lat IS NOT NULL) AND "
                                           f"({pc}.`long` IS NOT NULL))")
                        else:                   # (shape, lat, lng) form
                            df = df.filter(f"({pc} IS NOT NULL)")
                    df = df.join(F.broadcast(dim), on=cond, how="left_anti")
                    aliases.discard(j.name)  # anti join exposes no dim columns
                else:
                    df = df.join(F.broadcast(dim), on=cond, how="inner")
                continue

            if j.how not in ("left", "inner", "left_semi", "left_anti"):
                raise ValueError(f"unsupported join how: {j.how!r}")
            resolver = self._resolver(aliases, q)
            cond = F.expr(_conjoin([E.compile_expr(c, resolver)
                                    for c in j.conditions]))
            # the broadcast hint applies only while the dim's planned
            # bytes fit the forced-broadcast ceiling (guide §3): small
            # dims keep the reference's always-broadcast pick whatever
            # Catalyst estimates; a larger one falls through to
            # Catalyst/AQE. Results are strategy-independent.
            right = F.broadcast(dim) \
                if not dim_def.is_fact and fits_broadcast(dim) else dim
            df = df.join(right, on=cond, how=j.how)
            if j.how in ("left_semi", "left_anti"):
                aliases.discard(j.name)  # no dim columns in the output

        # timezone-column join: timezone="timezone(key)" appends a LEFT
        # broadcast join to the timezone lookup table (id → timezone) and
        # buckets use the per-row tz (reference processTimezone,
        # aql_compiler.go:439-466, alias __timezone_lookup)
        tz_sql = None
        tz_key = self._tz_column_key(q)
        if tz_key is not None:
            alias = "__timezone_lookup"
            tzt = self.catalog.load(self.spark, self.catalog.timezone_table).alias(alias)
            key = self._resolver(aliases, q)(tz_key)
            df = df.join(F.broadcast(tzt), how="left",
                         on=F.expr(f"({key} = {ident(alias)}.id)"))
            aliases.add(alias)
            # join miss ⇒ UTC; and a BLANK timezone string is UTC too —
            # the reference builds its offset lookup with Go's
            # time.LoadLocation, for which "" is UTC (aql_processor.go:
            # 487-497 prepareTimezoneTable; its tz-column golden has ""
            # enum cases)
            tzv = f"{ident(alias)}.timezone"
            tz_sql = (f"CASE WHEN (({tzv} IS NULL) OR (trim({tzv}) = '')) "
                      f"THEN 'UTC' ELSE {tzv} END")
        return df, self._resolver(aliases, q), consumed, tz_sql

    def _resolver(self, aliases: set[str], q: Query) -> E.Resolver:
        """AQL name → SQL text: ``alias.col`` of a joined table as
        `alias`.`col`; any other name binds to the fact table."""
        def resolve(name: str) -> str:
            if name == "*" or ("." in name and name.split(".", 1)[0] in aliases):
                return E.default_resolver(name)
            return E.default_resolver(f"{q.table}.{name}")
        return resolve

    # -- planning -----------------------------------------------------------

    def _filtered_rows(self, q: Query):
        """Shared head of plan(): joined + filtered rows plus compiled
        dimensions. Returns (df, resolver, dim_sql, dim_names); each
        dim_sql item is ``<expr> AS <name>`` text."""
        df, resolver, consumed_filters, tz_sql = self._build_joined(q)

        # time filter on a non-default column (the default-column case was
        # already pushed into the fact scan by _build_joined)
        tcol_name, lo, hi = self._time_bounds(q)
        if tcol_name is not None and tcol_name != self.catalog.table_def(q.table).time_column:
            # one filter; lit() renders each bound as its UTC instant
            tcol = resolver(tcol_name)
            cond = _conjoin([f"({tcol} {op} {lit(b)})"
                             for b, op in ((lo, ">="), (hi, "<"))
                             if b is not None])
            if cond is not None:
                df = df.filter(cond)

        tcols = self._timestamp_time_cols(q, df)
        for i, f in enumerate(q.filters):
            if i in consumed_filters:
                continue  # already applied to a pre-join (geo) dim side
            ast = self._epochify_time_literals(E.parse(f), tcols)
            df = df.filter(E.compile_ast(ast, resolver))

        # dimensions (time buckets computed in the query timezone — fixed
        # tz, or the per-row tz column from the timezone join;
        # query/time_bucketizer.go:93-146)
        tz = tz_sql
        if tz is None and q.timezone and q.timezone.upper() != "UTC":
            self._tz(q)  # validate early: unknown tz errors, not silently UTC
            tz = lit(q.timezone)
        dims = self._expand_wildcard(q)
        dim_names = [d.output_name(i) for i, d in enumerate(dims)]
        dim_sql = [f"{self._dimension_sql(d, resolver, tz)} AS {ident(n)}"
                   for d, n in zip(dims, dim_names)]
        return df, resolver, dim_sql, dim_names

    def plan(self, q: Query) -> DataFrame:
        q.validate_strict()
        df, resolver, dim_sql, dim_names = self._filtered_rows(q)

        # non-aggregate query: measure literal 1 / no measures ⇒ projection
        # (reference: query/aql_compiler.go:1147-1154, default limit 1000)
        parsed_measures = [(m, E.parse(m.expr)) for m in q.measures]
        parsed_supporting = [(m, E.parse(m.expr))
                             for m in q.supporting_measures]
        is_agg = any(E.contains_aggregate(ast)
                     for _, ast in parsed_measures + parsed_supporting)

        # reference parity: with exactly ONE measure, its rowFilters merge
        # into the WHERE set (rows are EXCLUDED — groups with no passing
        # rows disappear; query/aql_compiler.go:807-818). The per-measure
        # filter template below only generalizes multi-measure queries.
        merged_measure_filters = False
        if (len(parsed_measures) == 1 and parsed_measures[0][0].filters
                and not parsed_supporting):
            for f in parsed_measures[0][0].filters:
                df = df.filter(E.compile_expr(f, resolver))
            merged_measure_filters = True

        if not is_agg:
            cols = list(dim_sql)
            for i, (m, ast) in enumerate(parsed_measures):
                if isinstance(ast, E.Lit) and ast.value == 1:
                    continue  # literal-1 measure marks "non-agg", not an output
                cols.append(f"{E.compile_ast(ast, resolver)} "
                            f"AS {ident(m.output_name(i))}")
            out = df.selectExpr(*(cols or ["*"]))
            if q.distinct:
                out = out.distinct()
            out = self._apply_sorts(out, q, resolver)
            return out.limit(q.limit if q.limit is not None else 1000)

        # Measures with a non-aggregate expression in an aggregate query
        # are DERIVED: computed post-aggregation over the other measures'
        # output aliases (reference composite measures, e.g.
        # "Completed/Requested" — query/sql/sql_parser_test.go:257-319).
        # Supporting measures aggregate like the rest but are dropped
        # from the output (SupportingMeasures, query/common/aql.go).
        agg_cols = []
        derived: list[tuple[str, object]] = []
        n_main = len(parsed_measures)
        for i, (m, ast) in enumerate(parsed_measures + parsed_supporting):
            name = (m.output_name(i) if i < n_main
                    else m.alias or f"s{i - n_main}")
            if i < n_main and not E.contains_aggregate(ast):
                derived.append((name, ast))
                continue
            mf = None if merged_measure_filters else _conjoin(
                [E.compile_expr(f, resolver) for f in m.filters])
            agg_cols.append(F.expr(
                f"{E.compile_ast(ast, resolver, mf)} AS {ident(name)}"))

        if q.group_type not in ("groupby", "rollup", "cube"):
            raise ValueError(f"unknown group_type: {q.group_type!r}")
        if dim_sql:
            dim_cols = [F.expr(t) for t in dim_sql]
            grouped = (df.rollup(*dim_cols) if q.group_type == "rollup"
                       else df.cube(*dim_cols) if q.group_type == "cube"
                       else df.groupBy(*dim_cols))
            out = grouped.agg(*agg_cols)
        else:
            out = df.agg(*agg_cols)
        for name, ast in derived:
            # default resolver: refs bind against the aggregated output
            out = out.withColumn(name, F.expr(E.compile_ast(ast)))
        for h in q.having:
            # having refs OUTPUT columns (dims/measure aliases) by name;
            # the default resolver binds them against `out`
            out = out.filter(E.compile_expr(h))
        # sorts BEFORE the supporting-column drop, so ORDER BY may
        # reference an unselected supporting alias
        out = self._apply_sorts(out, q, resolver)
        if parsed_supporting or derived:
            # supporting columns drop; output order follows q.measures.
            # Quoted names — derived names like "Completed/Requested"
            # must not be parsed as expressions
            out = out.selectExpr(*[ident(n) for n in dim_names],
                                 *[ident(m.output_name(i)) for i, (m, _) in
                                   enumerate(parsed_measures)])
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    def _expand_wildcard(self, q: Query) -> list[Dimension]:
        """`*` expands to every main-table column that is not an array or
        geo-shape type (reference: query/aql_compiler.go:412, 1252-1265)."""
        from pyspark.sql.types import ArrayType
        out: list[Dimension] = []
        for d in q.dimensions:
            if d.expr.strip() != "*":
                out.append(d)
                continue
            schema = self.catalog.load(self.spark, q.table).schema
            for f in schema.fields:
                if isinstance(f.dataType, ArrayType):
                    continue  # arrays (incl. geoshape rings) excluded
                out.append(Dimension(expr=f.name, alias=f.name))
        return out

    def _dimension_sql(self, d: Dimension, resolver: E.Resolver,
                       tz: str | None = None) -> str:
        base = E.compile_expr(d.expr, resolver)
        if d.time_bucketizer:
            return timeutil.time_bucket(base, d.time_bucketizer, tz=tz)
        if d.numeric_bucketizer:
            nb = d.numeric_bucketizer
            return timeutil.numeric_bucket(
                base, bucket_width=nb.bucket_width, log_base=nb.log_base,
                manual_partitions=nb.manual_partitions)
        return base

    def _apply_sorts(self, df: DataFrame, q: Query,
                     resolver: E.Resolver) -> DataFrame:
        """ORDER BY. Sort expressions that name an output column resolve to
        it; anything else compiles with the query's alias-aware resolver
        (the reference parses sorts but never executes them,
        query/common/aql.go:145 — we implement them for real)."""
        if not q.sorts:
            return df
        cols = []
        for s in q.sorts:
            c = F.expr(ident(s.expr) if s.expr in df.columns
                       else E.compile_expr(s.expr, resolver))
            cols.append(c.desc() if s.order.lower() == "desc" else c.asc())
        return df.orderBy(*cols)


def plan_query(spark: SparkSession, sf_dir: str, q: Query) -> DataFrame:
    """Convenience: plan an AQL query against the testdata catalog."""
    return Planner(spark, Catalog(sf_dir)).plan(q)
