"""Text-analysis column expressions shared by the LLM-data queries.

JVM-side only: tokenization, lexical diversity, quality gates — the
building blocks of queries/llm.py, importable for ad-hoc pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Whitespace tokenizer used consistently engine-wide (matches the
#: DuckDB oracle regex string_split_regex(text, '\s+')).
TOKEN_PATTERN = r"\s+"


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_PATTERN)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def vocab_size(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def lexical_diversity(text: Column) -> Column:
    """distinct tokens / total tokens — 1.0 means no repetition."""
    return vocab_size(text).cast("double") / token_count(text)


def length_score(n_chars: Column, saturation: float = 400.0) -> Column:
    """Length signal saturating at ``saturation`` chars."""
    return F.least(n_chars.cast("double") / saturation, F.lit(1.0))


def quality_score(text: Column, n_chars: Column) -> Column:
    """The composite used by q_doc_quality: length + diversity, equal
    weights."""
    return length_score(n_chars) * 0.5 + lexical_diversity(text) * 0.5


def quality_verdict(text: Column) -> Column:
    """First-failing-rule verdict of the C4/Gopher-style gate
    (q_quality_gate's rule cascade, factored so every query applies the
    identical gate): 'too_short' / 'too_long' / 'word_length' /
    'repetitive' / 'keep'. Pure per-row higher-order array ops —
    stateless."""
    toks = F.filter(tokens(text), lambda x: x != "")
    # coalesce: NULL text means zero tokens, so attribution is
    # 'too_short' — without it the NULL skips both size rules and the
    # mean_wlen default misattributes the rejection to 'word_length'.
    n_tok = F.coalesce(F.size(toks), F.lit(0))
    mean_wlen = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
        / n_tok).otherwise(F.lit(0.0))
    top_frac = F.when(
        n_tok > 0,
        F.array_max(F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u))))
        .cast("double") / n_tok).otherwise(F.lit(1.0))
    return (F.when(n_tok < 20, "too_short")
            .when(n_tok > 1000, "too_long")
            .when((mean_wlen < 2.0) | (mean_wlen > 12.0), "word_length")
            .when(top_frac > 0.2, "repetitive")
            .otherwise("keep"))
