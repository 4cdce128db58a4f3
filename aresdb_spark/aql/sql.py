"""SQL dialect front end → AQL Query.

Reference: query/sql/sql_parser.go (ANTLR grammar + ASTBuilder visitor
translating SQL to an AQLQuery) with the fixed `aql_*` macro functions
(query/sql/util/udfRegister.go:52-97):

  aql_time_filter(col, "from", "to", timezone)   → Query.time_filter (+tz)
  aql_now(col, epoch)                            → Query.now
  aql_time_bucket_<unit>(col, timeunit, tz)      → time-bucketized dim
  aql_numeric_bucket_bucket_width(col, w)        → numeric bucketizer
  aql_numeric_bucket_logbase(col, b)             → numeric bucketizer

Dialect rules kept from the reference (sql_parser.go:2015-2037):
  - aggregates without GROUP BY → error
  - SELECT without GROUP BY → non-aggregate projection (measure literal 1)
  - subqueries unsupported

This is a recursive-scan translator over the reference's restricted
dialect (single fact table, LEFT JOINs, flat WHERE conjunction) — the
expression *contents* reuse the AQL expression parser, so the scalar
whitelist and type rules are identical to the JSON path. For SQL outside
the dialect, users go through spark.sql directly (full Spark SQL) — this
front end exists for request-level compatibility with reference clients.
"""

from __future__ import annotations

import re

from aresdb_spark.aql import expr as E
from aresdb_spark.aql.model import (Dimension, Join, Measure,
                                    NumericBucketizer, Query, SortField)

_KEYWORDS = ["select", "from", "join", "where", "group by", "having",
             "order by", "limit"]


class SQLSyntaxError(ValueError):
    pass


def _scan_top_level(sql: str):
    """Yield (pos, char) for characters at paren depth 0 outside quotes."""
    depth = 0
    quote = None
    for i, ch in enumerate(sql):
        if quote:
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            yield i, ch


def _find_clauses(sql: str) -> dict[str, str]:
    low = sql.lower()
    top = {i for i, _ in _scan_top_level(sql)}
    marks: list[tuple[int, int, str]] = []
    for kw in _KEYWORDS:
        # Multi-word keywords ("group by") match across any whitespace,
        # including newlines and runs of spaces.
        pat = r"\s+".join(re.escape(p) for p in kw.split())
        # word boundaries include digits: a column `limit2` must not match
        # the LIMIT keyword
        for m in re.finditer(rf"(?<![a-z0-9_]){pat}(?![a-z0-9_])", low):
            if m.start() in top:
                marks.append((m.start(), m.end(), kw))
    marks.sort()
    out: dict[str, str] = {}
    for n, (pos, kw_end, kw) in enumerate(marks):
        end = marks[n + 1][0] if n + 1 < len(marks) else len(sql)
        body = sql[kw_end:end].strip()
        if kw == "join":
            out.setdefault("joins", []).append(body)  # type: ignore[union-attr]
        else:
            out[kw] = body
    return out


def _split_top(s: str, sep: str) -> list[str]:
    """Split on a separator (',' or the keyword 'and') at top level."""
    top = {i for i, _ in _scan_top_level(s)}
    parts, start = [], 0
    if sep == ",":
        for i, ch in enumerate(s):
            if ch == "," and i in top:
                parts.append(s[start:i])
                start = i + 1
    else:
        # an AND that pairs with a preceding BETWEEN is part of that
        # predicate, not a conjunction boundary (x BETWEEN a AND b)
        pending_between = 0
        for m in re.finditer(r"(?<![a-z0-9_])(and|between)(?![a-z0-9_])",
                             s.lower()):
            if m.start() not in top:
                continue
            if m.group(1) == "between":
                pending_between += 1
            elif pending_between:
                pending_between -= 1
            else:
                parts.append(s[start:m.start()])
                start = m.end()
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_conjuncts(s: str) -> list[str]:
    """Split a boolean clause into top-level conjuncts with SQL
    precedence (AND binds tighter than OR). An OR at top level makes the
    whole expression ONE term — the reference emits the entire OR
    subtree as a single filter string (VisitLogicalBinary,
    sql_parser.go:676-689), so ``a AND b OR c`` is the one filter
    ``(a AND b) OR c``, never the conjuncts ``a`` and ``b OR c``."""
    top = {i for i, _ in _scan_top_level(s)}
    if any(m.start() in top for m in
           re.finditer(r"(?<![a-z0-9_])or(?![a-z0-9_])", s.lower())):
        if re.search(r"(?<![a-z0-9_])aql_[a-z_]+\s*\(", s.lower()):
            # sql_parser.go:973-975
            raise SQLSyntaxError(
                "aql_ macro functions can not appear in an OR expression")
        return [s.strip()]
    return _split_top(s, "and")


def _strip_quotes(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in ("'", '"'):
        return s[1:-1]
    return s


def _norm(s: str) -> str:
    """Whitespace-free lowercase form for textual expr matching."""
    return re.sub(r"\s+", "", s.lower())


def _parse_sort_items(text: str) -> list[SortField]:
    """ORDER BY item list → SortFields (default ASC)."""
    out = []
    for item in _split_top(text, ","):
        m = re.match(r"^(.*?)(?:\s+(asc|desc))?$", item.strip(),
                     re.IGNORECASE | re.DOTALL)
        out.append(SortField(m.group(1).strip(),
                             (m.group(2) or "asc").lower()))
    return out


def _call_args(body: str) -> list[str]:
    return [a.strip() for a in _split_top(body, ",")]


_AQL_CALL = re.compile(r"^(aql_[a-z_]+)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)

_BUCKET_NAME = {
    # aql_time_bucket_<suffix> → bucketizer string (udfRegister.go:62-79)
    "minute": "minute", "minutes": "minutes", "hour": "hour", "hours": "hours",
    "day": "day", "week": "week", "month": "month", "quarter": "quarter",
    "year": "year", "time_of_day": "time of day",
    "minutes_of_day": "minutes of day", "hour_of_day": "hour of day",
    "hour_of_week": "hour of week", "day_of_week": "day of week",
    "day_of_month": "day of month", "day_of_year": "day of year",
    "month_of_year": "month of year", "quarter_of_year": "quarter of year",
}


def _parse_select_item(item: str) -> tuple[str, str | None]:
    m = re.search(r"\s+as\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", item, re.IGNORECASE)
    if m:
        return item[:m.start()].strip(), m.group(1)
    return item.strip(), None


def _parse_group_item(item: str) -> tuple[Dimension, str | None]:
    """Returns (dimension, timezone-or-None)."""
    m = _AQL_CALL.match(item)
    if not m:
        return Dimension(expr=item), None
    name, args = m.group(1).lower(), _call_args(m.group(2))
    if name.startswith("aql_time_bucket_"):
        suffix = name[len("aql_time_bucket_"):]
        bucket = _BUCKET_NAME.get(suffix)
        if bucket is None:
            raise SQLSyntaxError(f"unknown time bucket macro {name!r}")
        # the reference's UDF accepts a quoted column ("request_at")
        col = _strip_quotes(args[0])
        unit = _strip_quotes(args[1]) if len(args) > 1 else None
        tz = _strip_quotes(args[2]) if len(args) > 2 else None
        return Dimension(expr=col, time_bucketizer=bucket,
                         time_unit=unit or None), tz
    if name == "aql_numeric_bucket_bucket_width":
        return Dimension(expr=_strip_quotes(args[0]),
                         numeric_bucketizer=NumericBucketizer(
                             bucket_width=float(_strip_quotes(args[1])))), None
    if name == "aql_numeric_bucket_logbase":
        return Dimension(expr=_strip_quotes(args[0]),
                         numeric_bucketizer=NumericBucketizer(
                             log_base=float(_strip_quotes(args[1])))), None
    raise SQLSyntaxError(f"unknown aql_ macro {name!r} in GROUP BY")


def _balanced(s: str, start: int) -> tuple[str, int]:
    """Body of the paren group opening at s[start]=='(' (exclusive) and
    the index just past the closing paren."""
    assert s[start] == "("
    depth, quote = 0, None
    for i in range(start, len(s)):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[start + 1:i], i + 1
    raise SQLSyntaxError("unbalanced parentheses")


_NATURAL_JOIN = re.compile(
    r"(?<![a-z0-9_])natural\s+(?:left\s+)?join(?![a-z0-9_])", re.IGNORECASE)


def _try_composite(sql: str) -> "Query | None":
    """Composite measures: the reference's named-subquery forms
    (sql_parser_test.go:257-386) —

        WITH m1 (A) AS (SELECT ...), m2 (B) AS (SELECT ...)
        SELECT A, B, A/B FROM m1 NATURAL LEFT JOIN m2

        SELECT A, B, A/B FROM (SELECT ...) AS m1
        NATURAL LEFT JOIN (SELECT ...) AS m2

    Every subquery must share FROM/joins/GROUP BY/time filter
    (sql_parser.go checkSubQueries); each contributes its aggregate
    measures with its OWN row filters as per-measure filters. Outer
    SELECT items that name a subquery measure select it; other items
    become derived measures over the aliases; unselected subquery
    measures land in supporting_measures (computed, not emitted).
    Returns None when `sql` is not in either composite form."""
    named: dict[str, tuple[list[str], str]] = {}
    m = re.match(r"^\s*with(?![a-z0-9_])\s*", sql, re.IGNORECASE)
    if m:
        if re.match(r"^\s*recursive(?![a-z0-9_])", sql[m.end():],
                    re.IGNORECASE):
            # sql_parser_test.go:388 "With RECURSIVE is not allowed"
            raise SQLSyntaxError("WITH RECURSIVE is not allowed")
        pos = m.end()
        while True:
            mm = re.match(
                r"([A-Za-z_][A-Za-z0-9_]*)\s*(?:\(([^)]*)\))?\s*as\s*\(",
                sql[pos:], re.IGNORECASE)
            if not mm:
                raise SQLSyntaxError("cannot parse WITH item")
            decl = [a.strip() for a in (mm.group(2) or "").split(",")
                    if a.strip()]
            body, end = _balanced(sql, pos + mm.end() - 1)
            named[mm.group(1)] = (decl, body)
            pos = end
            mc = re.match(r"\s*,\s*", sql[pos:])
            if not mc:
                break
            pos += mc.end()
        outer = sql[pos:]
    else:
        if not re.match(r"^\s*select\s", sql, re.IGNORECASE) or \
                not re.search(r"(?<![a-z0-9_])from\s*\(\s*select(?![a-z0-9_])",
                              sql, re.IGNORECASE):
            return None
        outer = sql

    mo = re.match(r"^\s*select\s+(.*?)\s+from\s+(.*)$", outer,
                  re.IGNORECASE | re.DOTALL)
    if not mo:
        raise SQLSyntaxError("composite query: expected SELECT ... FROM ...")
    select_body, tail = mo.group(1), mo.group(2)

    # optional trailing LIMIT / ORDER BY on the outer query. The ORDER
    # BY keyword is located at paren depth 0 only, so a leg's own ORDER
    # BY (inside its parens) is never mistaken for the outer one; the
    # LIMIT pattern is end-anchored, which a leg's limit (followed by
    # its closing paren) can't be.
    limit = None
    ml = re.search(r"(?<![a-z0-9_])limit\s+(\d+)\s*$", tail, re.IGNORECASE)
    if ml:
        limit, tail = int(ml.group(1)), tail[:ml.start()]
    sorts: list[SortField] = []
    top = {i for i, _ in _scan_top_level(tail)}
    ms = next((m for m in re.finditer(r"(?<![a-z0-9_])order\s+by\s+",
                                      tail, re.IGNORECASE)
               if m.start() in top), None)
    if ms:
        sorts = _parse_sort_items(tail[ms.end():])
        tail = tail[:ms.start()]

    # the FROM relation: named or inline subqueries, NATURAL [LEFT]
    # JOINed. Mixing the two kinds is rejected like the reference's
    # "Both left and right in joinRelation must be either tableName or
    # With/subqueryRelation at the same time" (sql_parser_test.go:437)
    subqs: list[tuple[list[str], Query]] = []
    kinds: set[str] = set()
    for part in (p.strip() for p in _NATURAL_JOIN.split(tail.strip())):
        kinds.add("inline" if part.startswith("(") else "named")
        if len(kinds) > 1:
            raise SQLSyntaxError(
                "join relations must be all named (WITH) or all inline "
                "subqueries")
        if part.startswith("("):
            body, end = _balanced(part, 0)
            subqs.append(([], sql_to_query(body)))
            # the name is decorative here (an alias-less subquery still
            # fails below as a plain subquery, like the reference)
            if not re.fullmatch(
                    r"\s*(?:(?:as\s+)?[A-Za-z_][A-Za-z0-9_]*)?\s*",
                    part[end:], re.IGNORECASE):
                raise SQLSyntaxError(f"cannot parse subquery alias in "
                                     f"{part[end:]!r}")
        elif part in named:
            decl, body = named[part]
            subqs.append((decl, sql_to_query(body)))
        else:
            if named:
                raise SQLSyntaxError(f"unknown WITH name {part!r}")
            return None  # plain FROM table — not a composite query

    # sql_parser_test.go:454 — subqueries must agree on everything but
    # measures and filters. `now`, HAVING, ORDER BY and LIMIT are part
    # of the shared skeleton (they change group membership / output),
    # so a leg-level disagreement is an error, and the agreed values
    # propagate to the combined query below rather than being dropped.
    def skeleton(q: Query):
        return (q.table,
                tuple((j.table, j.alias, tuple(j.conditions), j.how)
                      for j in q.joins),
                tuple((d.expr, d.time_bucketizer, d.time_unit,
                       d.numeric_bucketizer) for d in q.dimensions),
                q.time_filter, q.timezone, q.group_type,
                q.now, tuple(q.having),
                tuple((s.expr, s.order) for s in q.sorts), q.limit)

    base = subqs[0][1]
    for _, sub in subqs[1:]:
        if skeleton(sub) != skeleton(base):
            raise SQLSyntaxError(
                "FROM, GROUP BY and ORDER BY clause are required to be "
                "same in each subquery")

    by_alias: dict[str, Measure] = {}
    for decl, sub in subqs:
        if all(m.expr == "1" and m.alias is None for m in sub.measures):
            # a non-aggregate subquery is not a composite-measure leg —
            # reject with the reference's plain-subquery message
            # (sql_parser.go:2018-2021)
            raise SQLSyntaxError("sub query not supported yet")
        if decl and len(decl) != len(sub.measures):
            raise SQLSyntaxError("WITH column list does not match subquery")
        for i, sm in enumerate(sub.measures):
            alias = decl[i] if decl else sm.alias
            if not alias:
                raise SQLSyntaxError(
                    "composite subquery measures need an alias")
            if alias in by_alias:
                # a silent overwrite would drop the first leg's filters
                raise SQLSyntaxError(
                    f"duplicate measure alias {alias!r} across subqueries")
            by_alias[alias] = Measure(expr=sm.expr, alias=alias,
                                      filters=list(sm.filters) + sub.filters)

    def _dim_for(text: str) -> "Dimension | None":
        for d in base.dimensions:
            if _norm(text) in (_norm(d.expr), (d.alias or "").lower()):
                return d
        return None

    measures: list[Measure] = []
    selected: set[str] = set()
    for item in _split_top(select_body, ","):
        expr_text, alias = _parse_select_item(item)
        if expr_text in by_alias:
            picked = by_alias[expr_text]
            selected.add(expr_text)
            measures.append(picked if alias is None else
                            Measure(expr=picked.expr, alias=alias,
                                    filters=picked.filters))
            continue
        dim = _dim_for(expr_text)
        if dim is not None:
            # outer SELECT naming a group-by dimension selects (and may
            # rename) the dimension, it is not a derived measure
            if alias:
                dim.alias = alias
            continue
        measures.append(Measure(expr=expr_text, alias=alias))

    return Query(
        table=base.table, joins=base.joins, dimensions=base.dimensions,
        measures=measures,
        supporting_measures=[m for a, m in by_alias.items()
                             if a not in selected],
        time_filter=base.time_filter, timezone=base.timezone,
        group_type=base.group_type, now=base.now, having=base.having,
        sorts=sorts or base.sorts,
        limit=limit if limit is not None else base.limit)


def sql_to_query(sql: str) -> Query:
    """Translate one dialect-SQL string into an AQL Query."""
    sql = sql.strip().rstrip(";")
    composite = _try_composite(sql)
    if composite is not None:
        return composite
    clauses = _find_clauses(sql)
    if "select" not in clauses or "from" not in clauses:
        raise SQLSyntaxError("expected SELECT ... FROM ...")
    if re.search(r"\(\s*select(?![a-z_])", sql, re.IGNORECASE):
        raise SQLSyntaxError("sub query not supported yet")  # sql_parser.go:2018

    # FROM table [alias]
    from_parts = clauses["from"].split()
    table = from_parts[0]

    q = Query(table=table)

    # JOINs: bodies split at each top-level JOIN keyword, so a join's type
    # tokens ("LEFT" / "LEFT SEMI" / "LEFT ANTI" / "INNER") dangle at the
    # END of the preceding segment (the FROM body for the first join, the
    # previous join's condition otherwise). Pop them off to get `how`.
    _TYPE_TAIL = re.compile(
        r"\s+(?:(left)(?:\s+(semi|anti))?|(inner))\s*$", re.IGNORECASE)

    def _pop_join_type(text: str) -> tuple[str, str]:
        m = _TYPE_TAIL.search(text)
        if not m:
            return text, "left"  # bare JOIN keeps reference LEFT semantics
        if m.group(3):
            how = "inner"
        else:
            how = {"semi": "left_semi", "anti": "left_anti",
                   None: "left"}[m.group(2).lower() if m.group(2) else None]
        return text[:m.start()], how

    join_bodies = list(clauses.get("joins", []))  # type: ignore[arg-type]
    clauses["from"], next_how = _pop_join_type(clauses["from"])
    for n, jbody in enumerate(join_bodies):
        m = re.match(r"^(\S+)(?:\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s+on\s+(.*)$",
                     jbody.strip(), re.IGNORECASE | re.DOTALL)
        if not m:
            raise SQLSyntaxError(f"cannot parse join {jbody!r}")
        jt, jalias, jcond = m.group(1), m.group(2) or "", m.group(3)
        how = next_how
        if n + 1 < len(join_bodies):
            jcond, next_how = _pop_join_type(jcond)
        q.joins.append(Join(table=jt, alias=jalias,
                            conditions=_split_conjuncts(jcond), how=how))
    # defensive: a dangling LEFT in later clause bodies
    if "where" in clauses:
        clauses["where"] = re.sub(r"\s+left\s*$", "", clauses["where"],
                                  flags=re.IGNORECASE)

    # WHERE: aql_time_filter / aql_now macros + plain row filters
    for term in _split_conjuncts(clauses["where"]) if clauses.get("where") else []:
        m = _AQL_CALL.match(term)
        if m and m.group(1).lower() == "aql_time_filter":
            args = _call_args(m.group(2))
            if len(args) not in (3, 4):
                raise SQLSyntaxError("aql_time_filter(column, from, to[, timezone])")
            from aresdb_spark.aql.model import TimeFilter
            q.time_filter = TimeFilter(from_=_strip_quotes(args[1]),
                                       to=_strip_quotes(args[2]),
                                       column=_strip_quotes(args[0]))
            if len(args) == 4:
                q.timezone = _strip_quotes(args[3])
        elif m and m.group(1).lower() == "aql_now":
            args = _call_args(m.group(2))
            q.now = int(_strip_quotes(args[-1]))
        elif m and m.group(1).lower().startswith("aql_"):
            raise SQLSyntaxError(f"unknown aql_ macro in WHERE: {m.group(1)}")
        else:
            q.filters.append(term)

    # GROUP BY → dimensions (a bucketizer's timezone arg promotes to the
    # query timezone, matching the reference's per-dim tz = query tz)
    gb = clauses.get("group by")
    if gb:
        # GROUP BY ROLLUP (a, b) / CUBE (a, b) → Query.group_type
        m = re.match(r"^(rollup|cube)\s*\((.*)\)\s*$", gb.strip(),
                     re.IGNORECASE | re.DOTALL)
        if m:
            q.group_type = m.group(1).lower()
            gb = m.group(2)
    group_items = _split_top(gb, ",") if gb else []
    # GROUP BY ordinals (Presto-style, as in the reference's grammar):
    # resolve N to the N-th SELECT item's expression
    if group_items:
        sel_items = _split_top(
            re.sub(r"^\s*distinct(?![a-z_])", "", clauses["select"],
                   flags=re.IGNORECASE), ",")
        resolved = []
        for g in group_items:
            if re.fullmatch(r"[0-9]+", g.strip()):
                idx = int(g.strip())
                if not 1 <= idx <= len(sel_items):
                    raise SQLSyntaxError(
                        f"GROUP BY ordinal {idx} out of range")
                expr_text, _ = _parse_select_item(sel_items[idx - 1])
                resolved.append(expr_text)
            else:
                resolved.append(g)
        group_items = resolved
    dims = []
    dim_raw: list[str] = []  # original GROUP BY text, for SELECT matching
    for g in group_items:
        d, tz = _parse_group_item(g)
        dims.append(d)
        dim_raw.append(g)
        if tz and q.timezone.upper() == "UTC":
            q.timezone = tz

    # SELECT [DISTINCT] list → measures (aggregates) + dim aliases
    select_body = clauses["select"]
    m = re.match(r"^\s*distinct(?![a-z_])", select_body, re.IGNORECASE)
    if m:
        q.distinct = True
        select_body = select_body[m.end():]
    measures: list[Measure] = []
    plain_selects: list[tuple[str, str | None]] = []
    for item in _split_top(select_body, ","):
        expr_text, alias = _parse_select_item(item)
        try:
            ast = E.parse(expr_text)
        except Exception as e:
            raise SQLSyntaxError(
                f"cannot parse expression {expr_text!r}: {e}") from e
        if E.contains_aggregate(ast):
            measures.append(Measure(expr=expr_text, alias=alias))
        else:
            plain_selects.append((expr_text, alias))

    if not group_items:
        if measures:
            # reference rule (sql_parser.go:2024-2027)
            raise SQLSyntaxError(
                "no aggregate functions allowed when no group by specified")
        q.dimensions = [Dimension(expr=e, alias=a or e) for e, a in plain_selects]
        q.measures = [Measure(expr="1")]
    else:
        # attach aliases: match plain SELECT items to group-by dimensions
        # textually (normalized, including bucketizer-macro calls repeated
        # verbatim in SELECT); unmatched select items become extra dims
        for e, a in plain_selects:
            ne, na = _norm(e), _norm(a) if a else None
            for d, raw in zip(dims, dim_raw):
                if (_norm(raw) == ne or _norm(d.expr) == ne) and d.alias is None:
                    d.alias = a or (e if not _AQL_CALL.match(e) else None)
                    break
                # GROUP BY (or a bucketizer macro) referring to this
                # SELECT item's ALIAS: resolve the alias back to the
                # underlying expression, like the reference's
                # `GROUP BY trip_status` ⇒ {Alias: trip_status,
                # Expr: status} (sql_parser_test.go:73-86) and
                # `aql_numeric_bucket_logbase(pop, 2)` over
                # `population AS pop` (:213-230)
                if na and _norm(d.expr) == na and d.alias is None:
                    d.expr = e
                    d.alias = a
                    break
            else:
                extra, tz = _parse_group_item(e)
                extra.alias = a
                dims.append(extra)
                dim_raw.append(e)
        q.dimensions = dims
        if not measures:
            raise SQLSyntaxError("GROUP BY query requires an aggregate in SELECT")
        q.measures = measures

    # HAVING → post-aggregation filters over output names
    if clauses.get("having"):
        if not group_items:
            raise SQLSyntaxError("HAVING requires GROUP BY")
        # same AND/OR precedence rule as WHERE: a top-level OR keeps the
        # whole HAVING expression as one conjunct
        q.having = _split_conjuncts(clauses["having"])

    # ORDER BY / LIMIT
    if clauses.get("order by"):
        q.sorts = _parse_sort_items(clauses["order by"])
    if clauses.get("limit"):
        q.limit = int(clauses["limit"].strip())
    return q


def execute_sql(spark, catalog, sql: str):
    """The `POST /query/sql` analog: translate + run through the AQL
    planner (api/sql_query_handler.go:25)."""
    from aresdb_spark.aql.api import execute_query

    return execute_query(spark, catalog, sql_to_query(sql))
