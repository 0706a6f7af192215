"""Text-analysis functions for the training-data-pipeline surface
(BASELINE.json north_star): tokenization, token counting, language ID,
quality scoring, document fingerprinting.

Everything here is pure builtin column expressions (JVM-side; the
higher-order array functions run interpreted inside the codegen'd stage)
— no Python in the hot path, so these scale as plain map operations over
100 TB of documents. A lambda body is evaluated once per array element,
so it must read only lambda variables, attributes and literals: a
per-row input is bound once (ml/kmeans.py:245), never recomputed inside
the lambda.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (public, frequency-list derived)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "un", "une", "que"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
    "es": ["el", "la", "los", "las", "de", "que", "es", "en", "un", "una"],
}

_WORD_SPLIT = "\\s+"
# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (the GPT-2 pre-tokenizer regex family, simplified to Java regex)
_BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of non-empty text (lowercased)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), _WORD_SPLIT), lambda t: t != "")


def token_count(col: str | Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.size(tokens(col))


def bpe_token_count(col: str | Column) -> Column:
    """BPE-ish token count: count of word/number/symbol pieces via
    ``regexp_count`` — a cheap proxy for LLM token budgets."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_BPE_REGEX))


def stopword_hits(col: str | Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    toks = tokens(col)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def language_id(col: str | Column) -> Column:
    """Heuristic language ID: the language whose stopword-marker set scores
    the most token hits; 'und' (undetermined) when no marker hits.
    Deterministic tie-break: language code ascending via max_by on
    (score, reversed-code) struct comparison done in array sort."""
    scores = F.array(
        *[
            F.struct(
                stopword_hits(col, lang).alias("s"),
                F.lit(lang).alias("l"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # array_max on struct compares fieldwise: score first, then code; to make
    # ties pick the alphabetically-first code, invert the code ordering trick
    # by sorting descending on (s, negated position) — simpler: reduce manually
    best = F.aggregate(
        scores,
        F.struct(F.lit(-1).alias("s"), F.lit("und").alias("l")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )
    return F.when(best["s"] <= 0, F.lit("und")).otherwise(best["l"])


def quality_score(col: str | Column) -> Column:
    """Heuristic document quality in [0,1]: mean word length sanity,
    punctuation ratio, alpha ratio, and length band. Mirrors the
    Gopher/C4-style rule families (public heuristics)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_alpha = F.regexp_count(c, F.lit("[A-Za-z]"))
    n_punct = F.regexp_count(c, F.lit("[\\p{Punct}]"))
    n_tok = token_count(c)
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    mean_wlen = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 2) & (mean_wlen <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(alpha_ratio >= 0.6, F.lit(0.25)).otherwise(F.lit(0.0))
        # the punct rule is a *pass* condition, so it must be gated on
        # n_chars > 0: an empty/null document has nothing to score and
        # earns 0.0, not a free 0.25 for "no punctuation"
        + F.when((n_chars > 0) & (punct_ratio <= 0.2), F.lit(0.25)).otherwise(
            F.lit(0.0)
        )
    )
    return score


def fingerprint(col: str | Column) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized, lowercased text (rolling-hash analog, exact-dup
    detection key). NULL text fingerprints to NULL — ``xxhash64`` maps SQL
    NULL to its seed constant, which would make every null-text row an
    exact "duplicate" of every other and count as a distinct doc under
    COUNT(DISTINCT) (the oracle's md5(NULL) is NULL and is ignored)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), "\\s+", " ")
    return F.when(c.isNotNull(), F.xxhash64(norm))


def word_ngrams(col: str | Column, n: int = 5) -> Column:
    """Array of word n-grams (space-joined) of the lowercased token stream —
    the contamination / dedup unit for token-level overlap checks. Empty
    array when the document has fewer than ``n`` tokens (NULL text too).

    O(len) per row: the token array is bound once per row as a lambda
    variable (the ``transform(array(x), x -> …)`` idiom of the PQ argmin in
    ml/kmeans.py:245). Catalyst evaluates a lambda body once per array
    element, so a body that named ``tokens(col)`` would re-split the whole
    text for every n-gram."""

    def grams(t: Column) -> Column:
        # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.expr("array()").cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))

    return F.element_at(F.transform(F.array(tokens(col)), grams), 1)


def char_ngrams(col: str | Column, n: int = 5) -> Column:
    """Array of character n-grams (shingles) of the normalized text —
    the input to MinHash/Jaccard dedup. Empty array for NULL text and for
    text shorter than ``n`` after normalization.

    O(len) per row: ``array_repeat`` hands the normalized text to the
    lambda as its element, so the lambda reads only its own variables (the
    same bind-once purpose as the ``transform(array(x), x -> …)`` idiom in
    ml/kmeans.py:245). Catalyst evaluates a lambda body once per array
    element; a body that named the normalization expression re-ran
    ``regexp_replace`` over the whole text for every shingle — O(len²)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.lower(F.trim(c)), "\\s+", " ")
    # greatest(…, 0): no shingles (not a negative count) for short text;
    # greatest skips the NULL length of NULL text, which repeats 0 times
    reps = F.array_repeat(norm, F.greatest(F.length(norm) - (n - 1), F.lit(0)))
    return F.transform(reps, lambda s, i: F.substring(s, i + 1, n))


def chunks(col: str | Column, size: int = 50, stride: int = 40) -> Column:
    """Array of overlapping word chunks — the document→training-sample
    splitter. Chunk ``i`` covers tokens ``[i·stride, i·stride + size)``;
    starts advance by ``stride`` while they fall inside the document, so
    consecutive chunks overlap by ``size − stride`` tokens. Empty array for
    NULL or blank text. Pure builtin expressions (sequence → transform →
    slice → array_join), zero Python; the higher-order functions run
    interpreted (CodegenFallback) inside the codegen'd stage.

    O(len) per row: the token array is bound once per row as a lambda
    variable (the ``transform(array(x), x -> …)`` idiom in
    ml/kmeans.py:245), so the text is tokenized once, not once per chunk."""
    if stride <= 0 or size <= 0:
        raise ValueError("chunks: size and stride must be positive")

    def split(t: Column) -> Column:
        n_chunk = F.when(
            F.size(t) > 0,
            F.ceil(F.size(t) / F.lit(stride)).cast("int"),
        ).otherwise(F.lit(0))
        idx = F.when(n_chunk > 0, F.sequence(F.lit(0), n_chunk - 1)).otherwise(
            F.expr("array()").cast("array<int>")
        )
        return F.transform(
            idx, lambda i: F.array_join(F.slice(t, i * stride + 1, size), " ")
        )

    return F.element_at(F.transform(F.array(tokens(col)), split), 1)


# public PII surface patterns (regex-compatible across Java and RE2):
# email-ish, US-ish phone, and 16-digit card-ish numbers
PII_PATTERNS: list[tuple[str, str]] = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}", "<CARD>"),
]


def redact_pii(col: str | Column) -> Column:
    """Replace email / phone / card-number spans with typed placeholder
    tokens. Patterns are applied in declaration order; all replacement is
    JVM-side ``regexp_replace`` (global), no Python."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_hits(col: str | Column) -> Column:
    """Total count of PII pattern matches in the text (pre-redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lit(0)
    for pat, _ in PII_PATTERNS:
        out = out + F.regexp_count(c, F.lit(pat))
    return out
