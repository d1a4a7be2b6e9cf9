"""lucene-expressions analogue (query/expressions.py): compiler vs Python
eval on a value grid, error cases, and expression-sorted search vs a
hand-computed oracle ranking.
"""

import math

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query import bm25
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.query.expressions import (ExpressionError,
                                                   compile_expression,
                                                   expression_sort_search)
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 150


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-expr"))
    rows = generate_rows(N_DOCS, seed=5)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64).build(
        spark.createDataFrame(rows).select(
            "repo", "path", "commit", "lang", "content"))
    return catalog, OracleEngine.from_rows(rows)


EXPRS = [
    ("1.5", lambda x, y: 1.5),
    ("x + y * 2", lambda x, y: x + y * 2),
    ("(x + y) * 2 - x / 4", lambda x, y: (x + y) * 2 - x / 4),
    ("-x + -(y - 1)", lambda x, y: -x + -(y - 1)),
    ("ln(1 + x) + log2(4 + y)", lambda x, y: math.log(1 + x)
     + math.log2(4 + y)),
    ("sqrt(x * x + y * y)", lambda x, y: math.hypot(x, y)),
    ("min(x, y) + max(x, 2) + abs(0 - y)",
     lambda x, y: min(x, y) + max(x, 2) + abs(-y)),
    ("pow(x + 1, 2)", lambda x, y: (x + 1) ** 2),
    ("2e-1 * x", lambda x, y: 0.2 * x),
]


@pytest.mark.parametrize("src,py", EXPRS)
def test_compile_vs_python(spark, src, py):
    import pyspark.sql.functions as F
    grid = [(float(x), float(y)) for x in (0, 1, 2.5, 7)
            for y in (0.5, 3, 9.25)]
    df = spark.createDataFrame(grid, "x double, y double")
    col = compile_expression(src, {"x": F.col("x"), "y": F.col("y")})
    got = [r["v"] for r in df.select(col.alias("v")).collect()]
    want = [py(x, y) for x, y in grid]
    assert np.allclose(got, want, rtol=1e-12)


def test_expression_errors():
    import pyspark.sql.functions as F
    b = {"x": F.col("x")}
    for bad in ["x +", "1 2", "foo(x)", "min(x)", "pow(x, 1, 2)", "z + 1",
                "(x", "x )", "x $ 1", ""]:
        with pytest.raises(ExpressionError):
            compile_expression(bad, b)


def test_expression_sort_search(spark, built):
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    q, expr, k = "index query", "0.5 * _score + 2 * ln(1 + dl)", 25
    got = [(r["doc_id"], r["path"], r["score"])
           for r in expression_sort_search(eng, None, q, expr,
                                           limit=k).collect()]
    # oracle: full BM25 match set, expression applied, desc/docID sort
    base = oracle.search(None, q, limit=10_000)
    vals = []
    for d, p, s in base:
        dl = float(len(oracle.docs[d].tokens.get("text", [])))
        vals.append((0.5 * s + 2.0 * math.log(1.0 + dl), d, p))
    want = sorted(vals, key=lambda t: (-t[0], t[1]))[:k]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [v for v, _, _ in want])
    # an expression that inverts the ranking really does invert it
    inv = [(r["doc_id"]) for r in expression_sort_search(
        eng, None, q, "0 - _score", limit=len(base)).collect()]
    plain = [d for _, d, _ in sorted(
        ((s, d, p) for d, p, s in base), key=lambda t: (-t[0], t[1]))]
    assert inv == sorted(plain, key=lambda d: (
        [s for dd, _, s in base if dd == d][0], d))


def test_score_only_expression_skips_docvalues_join(spark, built):
    catalog, _ = built
    eng = SearchEngine(spark, catalog)
    df = expression_sort_search(eng, None, "index", "_score * 2", limit=5)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "field_lens" not in plan


def test_division_by_zero_java_semantics(spark):
    """x/0 must follow Java double semantics (Lucene JavascriptCompiler):
    +Inf / -Inf / NaN — never NULL, which would sort LAST under desc while
    Java's descending double SortField puts NaN first, then +Infinity."""
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        [(1.0, 0.0), (-2.0, 0.0), (0.0, 0.0), (6.0, 3.0)],
        "x double, y double")
    col = compile_expression("x / y", {"x": F.col("x"), "y": F.col("y")})
    got = [r["v"] for r in df.select(col.alias("v")).collect()]
    assert got[0] == math.inf and got[1] == -math.inf
    assert math.isnan(got[2]) and got[3] == 2.0
    # a NULL operand is Spark's stand-in for an upstream NaN (ln of a
    # negative): Java makes any NaN-operand quotient NaN — never Inf
    import pyspark.sql.functions as F
    ndf = spark.createDataFrame([(1.0,)], "x double")
    ncol = compile_expression("x / ln(0 - 1)",
                              {"x": F.col("x")})
    nval = ndf.select(ncol.alias("v")).collect()[0]["v"]
    assert nval is not None and math.isnan(nval), nval
    # descending order: NaN first, +Inf second, finite, -Inf last —
    # exactly Java's Double.compare order reversed
    ordered = [r["x"] for r in
               df.select("x", col.alias("v"))
               .orderBy(F.desc("v"), F.asc("x")).collect()]
    assert ordered == [0.0, 1.0, 6.0, -2.0]


def test_expression_sort_degenerate_divisor(spark, built):
    """A degenerate expression (1 / (dl - dl)) ranks every hit NaN — the
    full match set must still come back, in docID order (NaN ties)."""
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    got = [r["doc_id"] for r in expression_sort_search(
        eng, None, "index", "1 / (dl - dl)", limit=10).collect()]
    base = sorted(d for d, _, _ in oracle.search(None, "index", limit=10_000))
    assert got == base[:10]


def test_domain_nan_sorts_first_like_java(spark):
    """``ln`` of a negative is NaN in Java, and NaN survives ``*``/``+`` —
    the compiled expression must be NaN (never NULL, which sorts LAST under
    desc) so ``ln(x - 1) * 2`` ranks the out-of-domain row FIRST, as Java's
    descending double SortField does.  ``ln(0)`` is -Infinity, and a NaN
    operand of min/max wins."""
    import pyspark.sql.functions as F
    df = spark.createDataFrame([(0.0,), (1.0,), (3.0,)], "x double")
    col = compile_expression("ln(x - 1) * 2", {"x": F.col("x")})
    ordered = [(r["x"], r["v"]) for r in
               df.select("x", col.alias("v"))
               .orderBy(F.desc("v"), F.asc("x")).collect()]
    assert [x for x, _ in ordered] == [0.0, 3.0, 1.0]
    assert math.isnan(ordered[0][1]) and ordered[2][1] == -math.inf
    mm = compile_expression("min(ln(x - 1), 5)", {"x": F.col("x")})
    assert math.isnan(df.where("x = 0").select(mm.alias("v")).first()["v"])
    # a NULL binding is a NaN too, at the top level
    nul = compile_expression("x * 2", {"x": F.lit(None).cast("double")})
    assert math.isnan(df.select(nul.alias("v")).first()["v"])


def test_division_nan_operand_and_signed_zero(spark):
    """Java: ``NaN/0`` is NaN (Spark evaluates ``NaN > 0`` as true, so a
    sign test would say +Infinity), and ``x/-0.0`` is -Infinity for x > 0
    (Spark's ``-0.0 == 0`` cannot see the sign)."""
    import pyspark.sql.functions as F
    df = spark.createDataFrame([(1.0,), (-2.0,)], "x double")
    b = {"x": F.col("x")}
    vals = lambda src: [r["v"] for r in  # noqa: E731
                        df.select(compile_expression(src, b).alias("v")).collect()]
    assert all(math.isnan(v) for v in vals("(x - x) / 0 / 0"))
    assert all(math.isnan(v) for v in vals("ln(0 - x * x) / 0"))
    assert vals("x / (0 * (0 - 1))") == [-math.inf, math.inf]
    assert vals("x / (0 * 1)") == [math.inf, -math.inf]
