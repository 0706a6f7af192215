"""Text and vector kernels: element-for-element parity against pure-Python
references, and a plan-shape guard on their lambdas.

Spark evaluates a higher-order function's lambda body once per array
element (the functions are CodegenFallback, interpreted). A lambda body
that recomputes a per-row expression — the normalized text, the token
array, a vector's max-abs — does O(len) work per element and O(len²) per
row. The kernels bind such a value once per row as a lambda variable; the
shape guard below walks each kernel's optimized expression tree and fails
on any lambda-body subtree that does not depend on the lambda's own
variables, so the pattern cannot come back unnoticed. Nothing is timed.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.functions.similarity import quantize_int8
from isen_projet_bigdata_a3s6_spark.functions import text as T

# Java's \s (the class Spark's regexp_replace/split use); Python's \s also
# matches Unicode spaces, so spell the class out. Spark's trim() strips
# only ' '.
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")

TEXTS = [
    None,
    "",
    "   ",
    " \t\n \t ",
    "abc",
    "abcde",                       # exactly n=5 characters
    "Hello",                       # exactly n=5, case-folded
    "one two three",               # exactly n=3 tokens
    "one two",                     # fewer than n=3 tokens
    "  Hello\t\tWorld \n foo   bar\r\nbaz  ",
    "\tleading tab and trailing newline\n",
    "Ça déjà vu — NAÏVE café, Straße!",
    "a😀b 𝔘x\tc😀 dd",             # supplementary-plane characters
    " ".join(f"w{i % 7}" for i in range(23)),
]


def _norm(text: str) -> str:
    return _JAVA_WS.sub(" ", text.strip(" ").lower())


def _tokens(text):
    if text is None:
        return []
    return [t for t in _JAVA_WS.split(text.strip(" ").lower()) if t != ""]


def ref_char_ngrams(text, n):
    if text is None:
        return []
    s = _norm(text)
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def ref_word_ngrams(text, n):
    toks = _tokens(text)
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def ref_chunks(text, size, stride):
    toks = _tokens(text)
    n_chunk = math.ceil(len(toks) / stride)
    return [" ".join(toks[i * stride : i * stride + size]) for i in range(n_chunk)]


def _half_up(x: float, places: int) -> float:
    # Spark rounds a double through BigDecimal(Double.toString(x)), HALF_UP
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def ref_quantize(vec):
    if vec is None:
        return None, None
    absmax = max((abs(x) for x in vec), default=None)
    if absmax is None:
        return None, []
    scale = absmax / 127.0
    if absmax > 0:
        q = [max(-127, min(127, int(_half_up(x / scale, 0)))) for x in vec]
    else:
        q = [0 for _ in vec]
    return _half_up(scale, 6), q


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "id int, text string"
    )


def _by_id(df, col):
    return {r["id"]: list(r["out"]) for r in df.select("id", col.alias("out")).collect()}


@pytest.mark.parametrize("n", [1, 3, 5, 8])
def test_char_ngrams_parity(docs, n):
    got = _by_id(docs, T.char_ngrams("text", n))
    for i, text in enumerate(TEXTS):
        assert got[i] == ref_char_ngrams(text, n), (n, text)


@pytest.mark.parametrize("n", [1, 3, 5])
def test_word_ngrams_parity(docs, n):
    got = _by_id(docs, T.word_ngrams("text", n))
    for i, text in enumerate(TEXTS):
        assert got[i] == ref_word_ngrams(text, n), (n, text)


@pytest.mark.parametrize("size,stride", [(50, 40), (3, 2), (3, 3), (2, 3), (1, 1)])
def test_chunks_parity(docs, size, stride):
    got = _by_id(docs, T.chunks("text", size, stride))
    for i, text in enumerate(TEXTS):
        assert got[i] == ref_chunks(text, size, stride), (size, stride, text)


VECTORS = [
    None,
    [],
    [0.0, 0.0, 0.0],                 # zero vector: scale 0, all-zero codes
    [-2.0, 1.0, 0.5, -0.0],          # max-abs component is negative; 63.5 ties
    [0.25, -0.125, 3.0, -3.0, 1e-3],
    [1.5],
    [-7.75, 7.75],
]


@pytest.mark.parametrize("dtype", ["float", "double"])
def test_quantize_int8_parity(spark, dtype):
    df = spark.createDataFrame(
        list(enumerate(VECTORS)), f"id int, v array<{dtype}>"
    )
    got = {r["id"]: (r["scale"], r["qvec"]) for r in quantize_int8(df, "v", "id").collect()}
    for i, vec in enumerate(VECTORS):
        scale, q = got[i]
        exp_scale, exp_q = ref_quantize(vec)
        assert scale == exp_scale, (vec, scale, exp_scale)
        assert (None if q is None else list(q)) == exp_q, (vec, q, exp_q)


# ---------------------------------------------------------------------------
# plan-shape guard
# ---------------------------------------------------------------------------


def _kids(e):
    cs = e.children()
    return [cs.apply(i) for i in range(cs.size())]


def _kind(e):
    return e.getClass().getSimpleName()


def _args(lam):
    return {a.exprId().id() for a in _kids(lam)[1:]}


def _free_vars(e):
    """exprIds of the lambda variables ``e`` reads but does not bind."""
    kind = _kind(e)
    if kind == "NamedLambdaVariable":
        return {e.exprId().id()}
    if kind == "LambdaFunction":
        return _free_vars(e.function()) - _args(e)
    out = set()
    for c in _kids(e):
        out |= _free_vars(c)
    return out


def _invariant_subtrees(e):
    """Maximal subtrees of any lambda body in ``e`` that read no variable of
    that lambda (nor of a lambda between it and the subtree), other than a
    bare attribute, a bare lambda variable or a constant (foldable)
    expression: each is recomputed once per array element although its
    value is fixed for the row. A nested lambda is not a value; only its
    body is scanned, unless it maps a one-element array."""
    found = []
    exempt = ("AttributeReference", "NamedLambdaVariable", "LambdaFunction")

    def scan_body(node, varying):
        if (
            not node.foldable()
            and _kind(node) not in exempt
            and not (_free_vars(node) & varying)
        ):
            found.append(node.toString())
            return
        if _kind(node) == "LambdaFunction":
            varying = varying | _args(node)
        for c in _kids(node):
            scan_body(c, varying)

    def walk(node, once=False):
        if _kind(node) == "LambdaFunction" and not once:
            scan_body(node.function(), _args(node))
        kids = _kids(node)
        # transform(array(x), x -> …), the bind idiom itself: its lambda
        # runs once per row, so its body is not per-element work
        bind = (
            _kind(node) == "ArrayTransform"
            and _kind(kids[0]) == "CreateArray"
            and len(_kids(kids[0])) == 1
        )
        for c in kids:
            walk(c, once=bind)

    walk(e)
    return found


def _projected(df):
    # the optimized plan: what runs, minus analyzer no-ops such as a
    # double→double cast of a lambda variable (SimplifyCasts drops it)
    plist = df._jdf.queryExecution().optimizedPlan().projectList()
    return [plist.apply(i) for i in range(plist.size())]


def _texts(spark, col):
    return spark.createDataFrame([], "text string").select(col.alias("out"))


KERNELS = {
    "char_ngrams": lambda spark: _texts(spark, T.char_ngrams("text", 5)),
    "word_ngrams": lambda spark: _texts(spark, T.word_ngrams("text", 3)),
    "chunks": lambda spark: _texts(spark, T.chunks("text", 50, 40)),
    "tokens": lambda spark: _texts(spark, T.tokens("text")),
    "language_id": lambda spark: _texts(spark, T.language_id("text")),
    "quantize_int8": lambda spark: quantize_int8(
        spark.createDataFrame([], "id int, v array<float>"), "v", "id"
    ),
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_lambda_bodies_read_only_row_invariant_leaves(spark, kernel):
    exprs = _projected(KERNELS[kernel](spark))
    bad = [s for e in exprs for s in _invariant_subtrees(e)]
    assert bad == [], f"{kernel}: per-row input recomputed per element: {bad}"


def _plan_exprs(plan):
    exprs = [plan.expressions().apply(i) for i in range(plan.expressions().size())]
    for c in _kids(plan):
        exprs += _plan_exprs(c)
    return exprs


@pytest.mark.parametrize(
    "name", ["q126_editdist_pairs", "q187_embedding_quantize", "q193_quantized_ann_recall"]
)
def test_query_lambda_bodies_read_only_row_invariant_leaves(spark, sf_dir, name):
    """Whole query plans, because a caller can rebuild the pattern: the
    optimizer's CollapseProject inlines a projected column wherever it is
    named, so q193 naming quantize_int8's ``scale`` inside its dequantize
    lambda re-derived max(|v|) once per component."""
    from isen_projet_bigdata_a3s6_spark.queries import queries

    plan = queries()[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    bad = [
        s
        for e in _plan_exprs(plan)
        if "lambdafunction" in e.toString()
        for s in _invariant_subtrees(e)
    ]
    assert bad == [], f"{name}: per-row input recomputed per element: {bad}"


def test_shape_guard_flags_recomputed_row_input(spark):
    """The guard itself: a lambda that reads a per-row expression (not a
    bare column) is flagged; the same value bound once is not."""
    df = spark.createDataFrame([], "a array<string>, t string")
    lowered = F.lower(F.col("t"))
    bad = df.select(F.transform("a", lambda x: F.concat(x, lowered)))
    good = df.select(
        F.element_at(
            F.transform(
                F.array(lowered),
                lambda s: F.transform("a", lambda x: F.concat(x, s)),
            ),
            1,
        )
    )
    assert [s for e in _projected(bad) for s in _invariant_subtrees(e)] != []
    assert [s for e in _projected(good) for s in _invariant_subtrees(e)] == []
