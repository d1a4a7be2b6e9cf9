"""lucene-expressions module analogue (5.2: ``ExpressionValueSource`` /
expression ``SortField`` — a compiled arithmetic expression over the
relevance score and numeric docvalues, used to re-rank or sort hits).

The expression language is the arithmetic core of Lucene's JS grammar:
``+ - * /`` with unary minus, parentheses, numeric literals, variables and
the function set ``ln log2 sqrt abs min max pow``.  Variables resolve
against a binding map the caller controls; the search surface binds

- ``_score``  — the BM25 relevance of the wrapped query (Lucene's
  ``expr.getSortField`` binding of ``DocValuesField("_score")``),
- ``dl``      — the document's field length (the norms docvalue),
- ``doc_id``  — the stable docID (insertion/sort order).

Compilation is a ~50-line recursive-descent parse straight into a Spark
``Column`` — the expression executes INSIDE whole-stage codegen next to
the scoring arithmetic, never in Python, so an expression sort costs one
projection over the match set (plus the skinny ``field_lens`` docvalues
join when ``dl`` is referenced, same shape as ``FunctionScoreQuery``).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_TOKEN = re.compile(r"\s*(?:(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
                    r"|(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
                    r"|(?P<op>[-+*/(),]))")


def _nan() -> Column:
    return F.lit(float("nan"))


def _java_log(log):
    """Java's ``Math.log`` domain: -Infinity at 0 and NaN below it, where
    Spark's logarithms return NULL."""
    return lambda a: (F.when(a > 0, log(a))
                      .when(a == 0, F.lit(float("-inf")))
                      .otherwise(_nan()))


def _java_minmax(pick):
    """``Math.min``/``Math.max``: a NaN operand wins, where Spark's
    least/greatest order NaN above every number."""
    return lambda a, b: F.when(F.isnan(a) | F.isnan(b), _nan()).otherwise(pick(a, b))


#: function name -> (arity, Column builder)
_FUNCS = {
    "ln": (1, _java_log(F.log)),
    "log2": (1, _java_log(F.log2)),
    "sqrt": (1, lambda a: F.sqrt(a)),
    "abs": (1, lambda a: F.abs(a)),
    "min": (2, _java_minmax(F.least)),
    "max": (2, _java_minmax(F.greatest)),
    "pow": (2, lambda a, b: F.pow(a, b)),
}


class ExpressionError(ValueError):
    pass


def _java_div(lhs: Column, rhs: Column) -> Column:
    """Division with Java double semantics, which Lucene's
    ``JavascriptCompiler`` expressions follow: ``x/±0`` is ±Infinity with
    the sign of x times the sign of the zero, and ``0/0`` is NaN.  Spark's
    SQL ``Divide`` yields NULL on a zero divisor, and NULL sorts LAST under
    ``desc`` while Java's descending double SortField puts NaN first, then
    +Infinity — so without this shim a degenerate expression silently ranks
    OPPOSITE to the reference.  Spark orders NaN greater than every non-NaN
    double, so the emitted NaN/±Infinity reproduce the Lucene sort exactly.

    A NaN operand makes the quotient NaN (Spark evaluates ``NaN > 0`` as
    true, so it must not reach a sign test), and so does a NULL one, Spark's
    stand-in for an upstream NaN.  For a zero divisor, ``pow(rhs, -1)`` is
    Java's ``1/rhs`` — ±Infinity carrying the zero's sign bit, which
    ``rhs == 0`` cannot see — and ``lhs`` times it gives the signed
    Infinity, or NaN for ``0/0``."""
    return (F.when(lhs.isNull() | rhs.isNull() | F.isnan(lhs) | F.isnan(rhs),
                   _nan())
            .when(rhs != 0, lhs / rhs)
            .otherwise(lhs * F.pow(rhs, F.lit(-1.0))))


def _lex(src: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(src):
        m = _TOKEN.match(src, i)
        if m is None:
            if src[i:].isspace():
                break
            raise ExpressionError(f"cannot lex expression at {src[i:]!r}")
        if m.end() == i:
            break
        if m.group("num") is not None:
            out.append(("num", m.group("num")))
        elif m.group("name") is not None:
            out.append(("name", m.group("name")))
        else:
            out.append(("op", m.group("op")))
        i = m.end()
    return out


def compile_expression(src: str, bindings: dict[str, Column]) -> Column:
    """Parse and compile ``src`` to a Spark Column over ``bindings``.
    Raises :class:`ExpressionError` on syntax errors, unknown variables or
    functions, and arity mismatches — like Lucene's ``JavascriptCompiler``
    raising ParseException for unknown bindings."""
    toks = _lex(src)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else (None, None)

    def take(expect: str | None = None):
        k, v = peek()
        if k is None:
            raise ExpressionError("unexpected end of expression")
        if expect is not None and v != expect:
            raise ExpressionError(f"expected {expect!r}, got {v!r}")
        pos[0] += 1
        return k, v

    def atom() -> Column:
        k, v = take()
        if k == "num":
            return F.lit(float(v))
        if k == "name":
            if peek() == ("op", "("):
                if v not in _FUNCS:
                    raise ExpressionError(f"unknown function {v!r}")
                take("(")
                arity, fn = _FUNCS[v]
                args = [expr()]
                while peek() == ("op", ","):
                    take(",")
                    args.append(expr())
                take(")")
                if len(args) != arity:
                    raise ExpressionError(
                        f"{v}() takes {arity} args, got {len(args)}")
                return fn(*args)
            if v not in bindings:
                raise ExpressionError(f"unknown variable {v!r}")
            return bindings[v]
        if (k, v) == ("op", "("):
            e = expr()
            take(")")
            return e
        if (k, v) == ("op", "-"):
            return -atom()
        raise ExpressionError(f"unexpected token {v!r}")

    def term() -> Column:
        e = atom()
        while peek() in (("op", "*"), ("op", "/")):
            _, op = take()
            rhs = atom()
            e = e * rhs if op == "*" else _java_div(e, rhs)
        return e

    def expr() -> Column:
        e = term()
        while peek() in (("op", "+"), ("op", "-")):
            _, op = take()
            rhs = term()
            e = e + rhs if op == "+" else e - rhs
        return e

    out = expr()
    if pos[0] != len(toks):
        raise ExpressionError(f"trailing tokens at {toks[pos[0]]!r}")
    # a NULL that survived arithmetic (a NULL binding) stands for Java's
    # NaN, which sorts FIRST under desc
    return F.when(out.isNull(), _nan()).otherwise(out)


def expression_sort_search(engine, repo: str | None, query: str, expr: str,
                           field: str = "text",
                           limit: int = 10) -> DataFrame:
    """Search ``query`` and rank by the compiled ``expr`` (descending, docID
    tie-break) — the ``SortField`` Lucene builds from
    ``expression.getSortField(bindings, reverse=true)``.  The returned
    ``score`` column IS the expression value, like Lucene reporting the
    SortField value per hit.

    Needs the FULL match set (any expression can promote any match), same
    contract as ``FunctionScoreQuery``; ``dl`` joins the skinny
    ``field_lens`` docvalues table only when the expression references it.
    """
    from lucene_plugin_spark.query.advanced import _ALL
    from lucene_plugin_spark.query.parser import parse_query
    node = parse_query(query, variant=engine.analyzer)
    hits = engine.search_node(node, repo, limit=_ALL)
    names = {m.group(0) for m in
             re.finditer(r"[A-Za-z_][A-Za-z0-9_]*", expr)
             if m.group(0) not in _FUNCS}
    bindings = {"_score": F.col("score"),
                "doc_id": F.col("doc_id").cast("double")}
    if "dl" in names:
        lens = (engine._tbl("field_lens")
                .where(F.col("field") == field)
                .select("doc_id", F.col("dl").cast("double").alias("dl")))
        hits = hits.join(lens, "doc_id")
        bindings["dl"] = F.col("dl")
    col = compile_expression(expr, bindings)
    return (hits.select("doc_id", "path", col.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(limit)))
