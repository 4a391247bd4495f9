"""Text analysis operators for document corpora.

Language-ID (marker-word heuristic), quality scoring, token counting and
rolling-hash fingerprinting — each a pure column expression (JVM codegen,
no UDF), each mirrored 1:1 by a DuckDB oracle in workloads.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "BPE_ISH_PATTERN",
    "bpe_ish_token_count",
    "quality_features",
    "lang_id",
    "rolling_fingerprint",
]

# GPT2-style pre-tokenizer, simplified to the RE2-compatible subset (no
# lookahead) so Spark (Java regex) and DuckDB (RE2) count identically:
# a token is an optionally space-prefixed letter run, digit run, or
# punctuation run; residual whitespace runs also count as one token each
# (the \s+(?!\S) tail-merge of the original needs lookahead and is
# dropped).
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_ish_token_count(text_col: str | Column) -> Column:
    """Subword-style token count: number of BPE-ish pre-token matches.

    Pure JVM regexp_count — the scan-speed proxy for 'how many BPE tokens
    would this doc cost' that a training-data pipeline budgets with."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN)).cast("long")

STOPWORDS = ("the", "a", "and", "of", "to")

# marker vocabularies for the n-gram/stopword language vote; deterministic
# tiebreak: first language in this order wins ties
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "fr": ("le", "la", "et", "les", "des", "un"),
    "de": ("der", "die", "und", "das", "ein", "zu"),
}


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality signals (all per-row double math).

    The token array is materialized in its OWN projection before any
    reference (CLAUDE.md HOF rule): inlined, the regex split re-runs once
    per consuming expression — 4x per row here (size + the filter lambda +
    two ratio denominators)."""
    step = df.select(
        F.col(id_col), F.col(text_col).alias("_txt"), tokens(text_col).alias("_toks")
    )
    t = F.col("_toks")
    n_tok = F.size(t)
    n_alpha = F.length(F.regexp_replace("_txt", r"\s", ""))
    n_punct = F.length("_txt") - F.length(F.regexp_replace("_txt", r"[^\w\s]", ""))
    return step.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        (_hits(t, STOPWORDS).cast("double") / n_tok).alias("stop_ratio"),
        F.round(n_alpha.cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(n_punct.cast("double") / F.greatest(F.length("_txt"), F.lit(1)), 6).alias(
            "punct_ratio"
        ),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-vote language ID with deterministic >=-tiebreak order.

    Tokens materialize once per row (own projection), then the four
    marker-filter lambdas reference the array — not the split expression
    (which would otherwise re-run per language)."""
    scored = df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col),
        *[_hits(F.col("_toks"), LANG_MARKERS[lang]).alias(f"s_{lang}") for lang in LANG_MARKERS],
    )
    langs = list(LANG_MARKERS)
    # lang_i wins if its score >= all later scores (ties -> earlier lang)
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs[langs.index(lang) + 1 :]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return scored.select(
        id_col,
        *[F.col(f"s_{l}").cast("long").alias(f"s_{l}") for l in langs],
        expr.alias("pred_lang"),
    )


def rolling_fingerprint(text_col: str | Column, mod: int = 2**31 - 1) -> Column:
    """Order-sensitive polynomial rolling hash over tokens.

    acc = (acc * 31 + len(token) * 7 + first_char_code) % mod — kept inside
    int32 range so the identical formula runs on any engine without
    overflow-semantics differences.
    """
    t = tokens(text_col)
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (
            acc * 31 + F.length(x) * 7 + F.coalesce(F.ascii(F.substring(x, 1, 1)), F.lit(0))
        )
        % mod,
    )
