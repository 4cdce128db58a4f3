"""AQL expression dialect: parser + Spark-SQL text compiler.

Reference surface:
  - tokens/operators: query/expr/token.go:177-227 (= != <> < <= > >=,
    AND OR NOT, IN/NOT IN, IS NULL/IS NOT NULL/IS TRUE/IS FALSE,
    bitwise & | ^ ~ << >>, arithmetic + - * / %, unary - !)
  - parser: query/expr/parser.go (InfluxQL-derived recursive descent)
  - type rules & rewrites: query/context/query_context_helper.go
      * '/' is always float division (:241-267)
      * CASE WHEN type-unified conditional (:726-741)
      * closed function whitelist — unknown function errors (:723-725)
  - function registry: SURVEY §2.6 (convert_tz, dayofweek, hour,
    from_unixtime, hex, length, contains, element_at,
    geography_intersects, floor(x, N))

The compiler emits Spark-SQL expression text, aggregates included, that
the planner hands to Catalyst in one ``selectExpr`` / ``filter(str)`` /
``F.expr`` call per expression — everything stays JVM-side in Catalyst
codegen; no Python UDF appears in this module (the geo predicate is
provided by aresdb_spark.functions.geo and injected via the function
registry).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from aresdb_spark.operators.util import ident, lit

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<float>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)
  | (?P<int>0[xX][0-9a-fA-F]+|\d+)
  | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)
  | (?P<op><<|>>|<=|>=|!=|<>|=|<|>|\+|-|\*|/|%|&|\||\^|~|!|\(|\)|,)
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "true", "false",
    "case", "when", "then", "else", "end", "between", "like", "distinct",
}


@dataclass
class Token:
    kind: str  # 'int' | 'float' | 'str' | 'ident' | 'op' | 'kw' | 'eof'
    value: str
    pos: int


def tokenize(text: str) -> list[Token]:
    tokens: list[Token] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise AQLSyntaxError(f"unexpected character {text[pos]!r} at {pos} in {text!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        value = m.group()
        if kind == "ident" and value.lower() in _KEYWORDS:
            tokens.append(Token("kw", value.lower(), m.start()))
        else:
            tokens.append(Token(kind, value, m.start()))
    tokens.append(Token("eof", "", len(text)))
    return tokens


class AQLSyntaxError(ValueError):
    pass


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class Lit:
    value: Any  # int | float | str | bool | None


@dataclass
class Col:
    name: str  # possibly dotted: "c.city_name"


@dataclass
class Unary:
    op: str  # '-' '!' 'not' '~'
    operand: Any


@dataclass
class Binary:
    op: str
    left: Any
    right: Any


@dataclass
class InList:
    operand: Any
    items: list[Any]
    negated: bool = False


@dataclass
class IsNull:
    operand: Any
    negated: bool = False


@dataclass
class IsBool:
    operand: Any
    value: bool
    negated: bool = False


@dataclass
class Between:
    operand: Any
    low: Any
    high: Any
    negated: bool = False


@dataclass
class Call:
    func: str
    args: list[Any]


@dataclass
class Case:
    whens: list[tuple[Any, Any]]
    else_: Any | None


# ---------------------------------------------------------------------------
# Parser (precedence climbing; reference parser is InfluxQL-derived)
# ---------------------------------------------------------------------------

# low → high binding power
_PRECEDENCE = [
    {"or"},
    {"and"},
    {"=", "!=", "<>", "<", "<=", ">", ">=", "like"},
    {"|"},
    {"^"},
    {"&"},
    {"<<", ">>"},
    {"+", "-"},
    {"*", "/", "%"},
]


class _Parser:
    def __init__(self, tokens: list[Token]):
        self.tokens = tokens
        self.i = 0

    def peek(self) -> Token:
        return self.tokens[self.i]

    def next(self) -> Token:
        t = self.tokens[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None) -> Token:
        t = self.next()
        if t.kind != kind or (value is not None and t.value != value):
            raise AQLSyntaxError(f"expected {value or kind}, got {t.value!r} at {t.pos}")
        return t

    def parse(self) -> Any:
        node = self.parse_expr(0)
        if self.peek().kind != "eof":
            t = self.peek()
            raise AQLSyntaxError(f"trailing input {t.value!r} at {t.pos}")
        return node

    def parse_expr(self, level: int) -> Any:
        if level >= len(_PRECEDENCE):
            return self.parse_unary()
        left = self.parse_expr(level + 1)
        while True:
            t = self.peek()
            op = t.value if t.kind in ("op", "kw") else None
            # postfix-ish constructs bind at comparison level
            if level == 2 and t.kind == "kw" and t.value in ("in", "is", "not", "between"):
                left = self.parse_postfix_predicate(left)
                continue
            if op in _PRECEDENCE[level]:
                self.next()
                right = self.parse_expr(level + 1)
                left = Binary("!=" if op == "<>" else op, left, right)
                continue
            return left

    def parse_postfix_predicate(self, operand: Any) -> Any:
        t = self.next()
        negated = False
        if t.value == "not":
            negated = True
            t = self.next()
            if t.value not in ("in", "between", "like"):
                raise AQLSyntaxError(f"expected IN/BETWEEN/LIKE after NOT at {t.pos}")
        if t.value == "in":
            self.expect("op", "(")
            items = [self.parse_expr(0)]
            while self.peek().value == ",":
                self.next()
                items.append(self.parse_expr(0))
            self.expect("op", ")")
            return InList(operand, items, negated)
        if t.value == "between":
            low = self.parse_expr(3)
            self.expect("kw", "and")
            high = self.parse_expr(3)
            return Between(operand, low, high, negated)
        if t.value == "like":
            right = self.parse_expr(3)
            node = Binary("like", operand, right)
            return Unary("not", node) if negated else node
        if t.value == "is":
            neg = False
            if self.peek().kind == "kw" and self.peek().value == "not":
                self.next()
                neg = True
            t2 = self.next()
            if t2.value == "null":
                return IsNull(operand, neg)
            if t2.value in ("true", "false"):
                return IsBool(operand, t2.value == "true", neg)
            raise AQLSyntaxError(f"expected NULL/TRUE/FALSE after IS at {t2.pos}")
        raise AQLSyntaxError(f"unexpected {t.value!r} at {t.pos}")

    def parse_unary(self) -> Any:
        t = self.peek()
        if t.kind == "op" and t.value in ("-", "~", "!"):
            self.next()
            return Unary(t.value, self.parse_unary())
        if t.kind == "kw" and t.value == "not":
            self.next()
            return Unary("not", self.parse_unary())
        return self.parse_primary()

    def parse_primary(self) -> Any:
        t = self.next()
        if t.kind == "int":
            return Lit(int(t.value, 16) if t.value.lower().startswith("0x") else int(t.value))
        if t.kind == "float":
            return Lit(float(t.value))
        if t.kind == "str":
            raw = t.value[1:-1]
            return Lit(re.sub(r"\\(.)", r"\1", raw))
        if t.kind == "kw":
            if t.value == "null":
                return Lit(None)
            if t.value in ("true", "false"):
                return Lit(t.value == "true")
            if t.value == "case":
                return self.parse_case()
            raise AQLSyntaxError(f"unexpected keyword {t.value!r} at {t.pos}")
        if t.kind == "ident":
            if self.peek().value == "(":
                self.next()
                args: list[Any] = []
                if self.peek().value != ")":
                    args.append(self.parse_expr(0))
                    while self.peek().value == ",":
                        self.next()
                        args.append(self.parse_expr(0))
                self.expect("op", ")")
                return Call(t.value.lower(), args)
            return Col(t.value)
        if t.kind == "op":
            if t.value == "(":
                node = self.parse_expr(0)
                self.expect("op", ")")
                return node
            if t.value == "*":
                return Col("*")
        raise AQLSyntaxError(f"unexpected token {t.value!r} at {t.pos}")

    def parse_case(self) -> Case:
        whens: list[tuple[Any, Any]] = []
        else_: Any | None = None
        while True:
            t = self.next()
            if t.value == "when":
                cond = self.parse_expr(0)
                self.expect("kw", "then")
                whens.append((cond, self.parse_expr(0)))
            elif t.value == "else":
                else_ = self.parse_expr(0)
            elif t.value == "end":
                break
            else:
                raise AQLSyntaxError(f"unexpected {t.value!r} in CASE at {t.pos}")
        if not whens:
            raise AQLSyntaxError("CASE requires at least one WHEN")
        return Case(whens, else_)


def parse(text: str) -> Any:
    """Parse an AQL expression string into an AST."""
    return _Parser(tokenize(text)).parse()




# ---------------------------------------------------------------------------
# AST walkers
# ---------------------------------------------------------------------------

# measure aggregates (reference: query/aql_compiler.go:1156-1249) as
# templates over the argument text. count and percentile render in
# _aggregate; hll/countdistincthll are Spark's HLL++ at its default rsd.
_AGG_TEMPLATES = {
    "sum": "sum({})", "avg": "avg({})", "min": "min({})", "max": "max({})",
    "hll": "approx_count_distinct({})",
    "countdistincthll": "approx_count_distinct({})",
    # engine extensions
    "count_distinct": "count(DISTINCT {})", "stddev": "stddev({})",
    "median": "median({})",
}
_AGG_FUNCS = frozenset({"count", "percentile", *_AGG_TEMPLATES})


def _children(node: Any) -> Iterator[Any]:
    """The direct sub-expressions of ``node``, in source order."""
    if isinstance(node, (Unary, IsNull, IsBool)):
        yield node.operand
    elif isinstance(node, Binary):
        yield from (node.left, node.right)
    elif isinstance(node, InList):
        yield node.operand
        yield from node.items
    elif isinstance(node, Between):
        yield from (node.operand, node.low, node.high)
    elif isinstance(node, Call):
        yield from node.args
    elif isinstance(node, Case):
        for cond, val in node.whens:
            yield from (cond, val)
        if node.else_ is not None:
            yield node.else_


def _walk(node: Any) -> Iterator[Any]:
    yield node
    for child in _children(node):
        yield from _walk(child)


def column_refs(node: Any) -> set[str]:
    """Referenced column names (for usage analysis / pruning audits)."""
    return {n.name for n in _walk(node) if isinstance(n, Col)}


def contains_aggregate(node: Any) -> bool:
    """Whether ``node`` or any sub-expression of it is an aggregate call."""
    return any(isinstance(n, Call) and n.func in _AGG_FUNCS
               for n in _walk(node))


# ---------------------------------------------------------------------------
# Compiler: AST → Spark-SQL expression text
# ---------------------------------------------------------------------------

# An AQL column name → its SQL text.
Resolver = Callable[[str], str]


def default_resolver(name: str) -> str:
    """One quoted identifier per dotted part (``c.x`` → `c`.`x`, the
    way Spark splits a column name ``c.x``); ``*`` stays a star."""
    return "*" if name == "*" else ".".join(ident(p) for p in name.split("."))


def _unary(name: str) -> Callable[[list[str]], str]:
    return lambda a: f"{name}({a[0]})"


def _fn_convert_tz(a: list[str]) -> str:
    # MySQL convert_tz(ts, from, to): interpret ts as from_tz wall time,
    # re-express in to_tz wall time (reference constant-folds this to
    # ts + offset, query_context_helper.go:348-387; the tz-aware form is
    # DST-correct where the reference's constant offset is not)
    ts, from_tz, to_tz = a
    return f"from_utc_timestamp(to_utc_timestamp({ts}, {from_tz}), {to_tz})"


def _fn_element_at(a: list[str]) -> str:
    # reference element_at is 0-BASED for non-negative indices
    # (ArrayElementAtFunctor, query/functor.hpp:540-569: index 0 = first,
    # negative = from end, out-of-range = null) — Spark's is 1-based, so
    # shift non-negative indices by one
    arr, i = a[0], a[1]
    return (f"element_at({arr}, CASE WHEN ({i} >= 0) THEN "
            f"(CAST({i} AS INT) + 1) ELSE CAST({i} AS INT) END)")


# Closed function whitelist (reference errors on unknown functions,
# query/context/query_context_helper.go:723-725). Each entry maps the
# compiled argument texts to a JVM-side builtin call.
_FUNCTIONS: dict[str, Callable[[list[str]], str]] = {
    # time (reference: query_context_helper.go:348-483)
    "convert_tz": _fn_convert_tz,
    "dayofweek": _unary("dayofweek"),  # MySQL-compatible Sunday=1 in both
    "hour": _unary("hour"),
    "minute": _unary("minute"),
    "second": _unary("second"),
    "from_unixtime": lambda a: f"CAST(from_unixtime({a[0]}) AS TIMESTAMP)",
    "to_unixtime": _unary("unix_timestamp"),
    "now": lambda a: "current_timestamp()",
    # misc scalar (reference: :526-539)
    "hex": _unary("hex"),
    # array functions (reference: :603-721)
    "length": _unary("size"),
    "array_length": _unary("size"),
    "contains": lambda a: f"array_contains({a[0]}, {a[1]})",
    "array_contains": lambda a: f"array_contains({a[0]}, {a[1]})",
    "element_at": _fn_element_at,
    "array_element_at": _fn_element_at,
    # numeric floor(x, N) → floor(x / N) * N (reference: SQL udfRegister.go:83-87)
    "floor": lambda a: (f"(floor(({a[0]} / {a[1]})) * {a[1]})" if len(a) == 2
                        else f"floor({a[0]})"),
    "ceil": _unary("ceil"),
    "abs": _unary("abs"),
    "round": lambda a: f"round({a[0]}, {a[1] if len(a) > 1 else 0})",
    # geo — registered by functions.geo
}


def register_function(name: str, builder: Callable[[list[str]], str]) -> None:
    """Extend the function whitelist with a builder over the compiled
    argument texts (used by functions.geo)."""
    _FUNCTIONS[name.lower()] = builder


class UnknownFunctionError(ValueError):
    pass


_BINARY_OPS = {
    "and": "AND", "or": "OR", "=": "=", "!=": "!=", "<": "<", "<=": "<=",
    ">": ">", ">=": ">=", "+": "+", "-": "-", "*": "*", "%": "%",
    "&": "&", "|": "|", "^": "^", "like": "LIKE",
}


def compile_ast(node: Any, resolver: Resolver = default_resolver,
                measure_filter: str | None = None) -> str:
    """Compile a parsed AST node into Spark-SQL expression text.

    Type rules kept from the reference (query_context_helper.go):
      * '/' always float division (:241-267) — both sides cast to double
      * string literals compare against enum/string columns; a value absent
        from the data simply compares false (Spark-native; matches the
        enum-miss → -1 → false semantics at :299-310)
      * IS TRUE / IS FALSE null-safe boolean tests

    Aggregate calls render as templates; ``measure_filter`` (SQL text)
    is a measure's row filter, applied to every aggregate's argument
    (reference merges measure filters into the WHERE set,
    query/aql_compiler.go:807-818; this form lets several measures
    carry different filters)."""
    def c(n: Any) -> str:
        return compile_ast(n, resolver, measure_filter)

    if isinstance(node, Lit):
        return lit(node.value)
    if isinstance(node, Col):
        return resolver(node.name)
    if isinstance(node, Unary):
        x = c(node.operand)
        if node.op == "-":
            return f"(- {x})"
        if node.op in ("!", "not"):
            return f"(NOT CAST({x} AS BOOLEAN))"
        if node.op == "~":
            return f"(~ {x})"
        raise AQLSyntaxError(f"unknown unary op {node.op}")
    if isinstance(node, Binary):
        op = node.op
        le, ri = c(node.left), c(node.right)
        if op in ("<<", ">>", "like") and not isinstance(node.right, Lit):
            raise AQLSyntaxError("LIKE pattern must be a string literal"
                                 if op == "like"
                                 else "shift amount must be a literal")
        if op == "/":
            # reference: division is ALWAYS float (query_context_helper.go:241-267)
            return f"(CAST({le} AS DOUBLE) / CAST({ri} AS DOUBLE))"
        if op in ("<<", ">>"):
            return f"shift{'left' if op == '<<' else 'right'}({le}, {ri})"
        if op not in _BINARY_OPS:
            raise AQLSyntaxError(f"unknown binary op {op}")
        return f"({le} {_BINARY_OPS[op]} {ri})"
    if isinstance(node, InList):
        out = f"({c(node.operand)} IN ({', '.join(map(c, node.items))}))"
        return f"(NOT {out})" if node.negated else out
    if isinstance(node, IsNull):
        return f"({c(node.operand)} IS {'NOT ' if node.negated else ''}NULL)"
    if isinstance(node, IsBool):
        out = f"(CAST({c(node.operand)} AS BOOLEAN) <=> {lit(node.value)})"
        return f"(NOT {out})" if node.negated else out
    if isinstance(node, Between):
        x = c(node.operand)
        out = f"(({x} >= {c(node.low)}) AND ({x} <= {c(node.high)}))"
        return f"(NOT {out})" if node.negated else out
    if isinstance(node, Call):
        # reference rewrite: from_unixtime(X / 1000) IS the raw time
        # value X — millisecond-stored clients write this form and the
        # compiler unwraps it to the column itself
        # (query_context_helper.go:436-459). Other argument shapes fall
        # through to Spark's general from_unixtime (our engines's time
        # columns are real timestamps, so the generalization is safe).
        if node.func == "from_unixtime" and len(node.args) == 1 \
                and isinstance(node.args[0], Binary) \
                and node.args[0].op == "/" \
                and isinstance(node.args[0].right, Lit) \
                and node.args[0].right.value == 1000:
            return c(node.args[0].left)
        if node.func in _AGG_FUNCS:
            return _aggregate(node, resolver, measure_filter)
        fn = _FUNCTIONS.get(node.func)
        if fn is None:
            raise UnknownFunctionError(
                f"unknown function {node.func!r} "
                "(closed whitelist, ref query_context_helper.go:723-725)")
        return fn([c(a) for a in node.args])
    if isinstance(node, Case):
        whens = " ".join(f"WHEN {c(w)} THEN {c(v)}" for w, v in node.whens)
        else_ = f" ELSE {c(node.else_)}" if node.else_ is not None else ""
        return f"CASE {whens}{else_} END"
    raise AQLSyntaxError(f"cannot compile node {node!r}")


def _aggregate(node: Call, r: Resolver, measure_filter: str | None) -> str:
    if node.func == "count":
        # the reference REPLACES count's argument with the literal 1 and
        # sums it (aql_compiler.go:1191-1197) — count(c1) is a pure ROW
        # count even when c1 is null, not Spark's null-skipping count
        return (f"sum(CASE WHEN {measure_filter} THEN 1 ELSE 0 END)"
                if measure_filter is not None else "count(1)")
    arg = compile_ast(node.args[0], r)
    if measure_filter is not None:
        arg = f"CASE WHEN {measure_filter} THEN {arg} END"
    if node.func == "percentile":
        return f"percentile({arg}, {lit(node.args[1].value)}, 1)"
    return _AGG_TEMPLATES[node.func].format(arg)


def compile_expr(text: str, resolver: Resolver = default_resolver) -> str:
    """Parse + compile an AQL expression string to Spark-SQL text."""
    return compile_ast(parse(text), resolver)
