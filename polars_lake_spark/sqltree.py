"""Spark's own parse trees for the SQL statement layer.

``Engine.sql`` parses each statement once with the session's Catalyst
parser and routes from the tree, so every literal value and clause
boundary is Spark's own reading of the text — escapes, doubled quotes
and keywords inside literals included.  Trees are py4j handles to
unresolved Catalyst nodes; this module reads what the router needs.
The engine's stored formulas (generated columns, CHECK constraints,
expectations) are read through their expression trees too, so no part
of the package scans SQL text by hand.
"""

from __future__ import annotations

import datetime
import functools
from decimal import Decimal

from pyspark import SparkContext
from pyspark.errors import ParseException
from pyspark.sql import DataFrame

_EPOCH = datetime.datetime(1970, 1, 1)
# expression nodes holding a query or a window: the SELECT fast paths
# answer single-table shapes only
_OPAQUE = frozenset(
    "ScalarSubquery ListQuery Exists LateralSubquery "
    "UnresolvedWindowExpression WindowExpression".split()
)


# name nodes whose parts are a ``multipartIdentifier``
_MULTIPART = frozenset(
    "UnresolvedRelation UnresolvedTable UnresolvedTableOrView".split()
)


def _parser(spark):
    return spark._jsparkSession.sessionState().sqlParser()


def parse_plan(spark, sql: str):
    """Unresolved logical plan of ``sql``; None when Spark rejects it."""
    try:
        return _parser(spark).parsePlan(sql)
    except ParseException:
        return None


def parse_expression(spark, text: str):
    """Unresolved expression tree of ``text``; None when Spark rejects
    it."""
    try:
        return _parser(spark).parseExpression(text)
    except ParseException:
        return None


def frame(spark, plan) -> DataFrame:
    """The DataFrame of an unresolved query plan (a CTAS body, an INSERT
    or MERGE source), analyzed as ``spark.sql`` analyzes its text — no
    slice of the text, whose clauses an origin may not span (an
    ``Aggregate``'s covers only its GROUP BY)."""
    jds = SparkContext._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(jds.ofRows(spark._jsparkSession, plan), spark)


def kind(node) -> str:
    """The node's Catalyst class name (``Filter``, ``EqualTo``, ...)."""
    return node.nodeName()


def seq(s) -> list:
    """A Scala ``Seq`` as a Python list (an ``Option`` via ``toList``)."""
    return [s.apply(i) for i in range(s.size())]


def children(node) -> list:
    return seq(node.children())


def walk(node):
    """``node`` and every node below it."""
    yield node
    for c in children(node):
        yield from walk(c)


def plans(plan):
    """Every plan node of ``plan``, the plans of subqueries and CTEs
    included (Catalyst's ``innerChildren``)."""
    yield plan
    for c in children(plan) + seq(plan.innerChildren()):
        yield from plans(c)


def name(node) -> str:
    """Dotted name of an unresolved relation, table, identifier, field,
    attribute or function."""
    k = kind(node)
    if k in _MULTIPART:
        parts = node.multipartIdentifier()
    elif k == "UnresolvedFieldName":
        parts = node.name()
    else:
        parts = node.nameParts()
    return ".".join(seq(parts))


def _spans(node, out: list) -> list:
    """``(start, stop, is_leaf)`` origins of ``node`` and its subtree.
    TRUE/FALSE parse to shared singleton literals that keep the origin of
    whichever statement made them first: theirs is skipped."""
    ch = children(node)
    o = node.origin()
    a, b = o.startIndex(), o.stopIndex()
    if a.isDefined() and b.isDefined() and not (
        not ch
        and kind(node) == "Literal"
        and node.dataType().typeName() == "boolean"
    ):
        out.append((a.get(), b.get(), not ch))
    for c in ch:
        _spans(c, out)
    return out


def span(node) -> tuple[int, int]:
    """Inclusive (start, stop) of the source text of ``node``'s subtree."""
    spans = _spans(node, [])
    return min(s[0] for s in spans), max(s[1] for s in spans)


@functools.lru_cache(maxsize=16)
def _comments(sql: str) -> tuple:
    """Inclusive spans of the comments in ``sql``, by Spark's own
    lexer (nested ``/* */`` and ``--`` line continuations included)."""
    if "--" not in sql and "/*" not in sql:
        return ()
    jvm = SparkContext._jvm
    lexer = jvm.org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    kinds = (lexer.SIMPLE_COMMENT, lexer.BRACKETED_COMMENT)
    toks = lexer(jvm.org.antlr.v4.runtime.CharStreams.fromString(sql))
    return tuple(
        (t.getStartIndex(), t.getStopIndex())
        for t in toks.getAllTokens()
        if t.getType() in kinds
    )


def text(sql: str, node, subs=()) -> str:
    """The source text of ``node``.  A postfix operator's origin starts
    at the operator (``IS NULL``, ``IN (...)``) and a parenthesised
    operand's excludes its parentheses, so this takes the subtree's span
    and widens it over any parenthesis left open (leaf text — literals,
    quoted names — and comments are not counted).  ``subs`` holds
    disjoint ``(start, stop, new)`` spans inside it, each replaced by
    ``new`` in one pass."""
    spans = _spans(node, [])
    if not spans:  # a bare TRUE/FALSE
        return node.sql()
    a, b = min(s[0] for s in spans), max(s[1] for s in spans)
    chars = list(sql)
    blank = [(lo, hi) for lo, hi, leaf in spans if leaf]
    for lo, hi in blank + list(_comments(sql)):
        chars[lo : hi + 1] = " " * (hi - lo + 1)
    masked = "".join(chars)
    depth = low = 0
    for ch in masked[a : b + 1]:
        depth += (ch == "(") - (ch == ")")
        low = min(low, depth)
    for _ in range(-low):
        a = masked.rindex("(", 0, a)
    for _ in range(depth - low):
        b = masked.index(")", b + 1)
    out = []
    for lo, hi, new in sorted(subs):
        out += [sql[a:lo], new]
        a = hi + 1
    return "".join(out) + sql[a : b + 1]


def referenced_columns(spark, formula: str, candidates=None) -> set[str]:
    """Columns a stored formula (generated column, CHECK, expectation)
    references: the leading name part of each column reference in its
    expression tree, as spelled — literals, function names and keywords
    never are.  With ``candidates``, only those, matched
    case-insensitively and returned in the candidates' spelling."""
    refs = {
        seq(n.nameParts())[0]
        for n in walk(_parser(spark).parseExpression(formula))
        if kind(n) == "UnresolvedAttribute"
    }
    if candidates is None:
        return refs
    cand = {c.lower(): c for c in candidates}
    return {cand[r.lower()] for r in refs if r.lower() in cand}


def substitute_columns(spark, formula: str, mapping: dict[str, str]) -> str:
    """``formula`` with each single-part column reference whose
    lower-cased name is in ``mapping`` replaced by its parenthesised
    mapped expression, in one pass: a replacement is never rescanned
    (``SET a = b, b = a`` crossings stay correct)."""
    root = _parser(spark).parseExpression(formula)
    subs = [
        (*span(n), f"({mapping[column(n)]})")
        for n in walk(root)
        if column(n) in mapping
    ]
    return text(formula, root, subs) if subs else formula


def conjuncts(expr) -> list:
    """The top-level ``AND`` operands of ``expr``, flattened."""
    if kind(expr) == "And":
        return [c for ch in children(expr) for c in conjuncts(ch)]
    return [expr]


def opaque(expr) -> bool:
    """True when ``expr`` holds a subquery, a window or a TIMESTAMP
    literal.  Spark writes TIMESTAMP columns as INT96, whose footers
    carry no min/max, so metadata cannot answer a TIMESTAMP predicate;
    the vanilla plan does."""
    for n in walk(expr):
        k = kind(n)
        if k in _OPAQUE or (
            k == "Literal" and n.dataType().typeName() == "timestamp"
        ):
            return True
    return False


# node kinds of a plain comparison predicate (BETWEEN parses as a
# function call, checked apart)
_PLAIN = frozenset(
    "And Or Not EqualTo EqualNullSafe LessThan LessThanOrEqual GreaterThan "
    "GreaterThanOrEqual In IsNull IsNotNull Like Literal "
    "UnresolvedAttribute".split()
)


def partition_only(cond, parts, plain: bool = False) -> bool:
    """True when every column ``cond`` names is one of ``parts`` (single
    part, any case), so the predicate is constant per partition.
    ``plain`` also refuses anything but comparisons, IN, LIKE, BETWEEN,
    NULL tests and boolean logic (no function call, arithmetic or
    subquery)."""
    allowed = {p.lower() for p in parts}
    for n in walk(cond):
        k = kind(n)
        if k == "UnresolvedAttribute" and column(n) not in allowed:
            return False
        if plain and k not in _PLAIN and not (
            k == "UnresolvedFunction" and name(n).lower() == "between"
        ):
            return False
    return bool(parts)


def column(node) -> str | None:
    """Lower-cased name of a single-part column reference, else None."""
    if kind(node) != "UnresolvedAttribute" or node.nameParts().size() != 1:
        return None
    return node.nameParts().head().lower()


def literal(node) -> tuple[bool, object]:
    """``(True, value)`` for a non-NULL literal, the value in the
    zone-map domain (``zonemaps._coerce``): int/float/Decimal/bool/str,
    DATE and TIMESTAMP as naive ISO strings in the session time zone
    (pinned to UTC); ``(False, None)`` for anything else."""
    if kind(node) != "Literal" or node.value() is None:
        return False, None
    t, v = node.dataType().typeName(), node.value()
    if t in ("byte", "short", "integer", "long", "float", "double", "boolean"):
        return True, v
    if t == "string":
        return True, v.toString()
    if t.startswith("decimal"):
        return True, Decimal(v.toString())
    if t == "date":
        return True, (_EPOCH + datetime.timedelta(days=v)).date().isoformat()
    if t in ("timestamp", "timestamp_ntz"):
        return True, (_EPOCH + datetime.timedelta(microseconds=v)).isoformat()
    return False, None
