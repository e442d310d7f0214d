"""Text-analysis building blocks (training-data pipeline surface).

Two halves sharing one definition of a token:

* Catalyst column functions — tokenization, n-grams, quality features,
  fingerprinting — for the operators that stay JVM-side (``text_quality``,
  document fingerprints, the lexical index's tokenize pass);
* the constants and the Python splitter (:func:`split_tokens`) that the
  Arrow ``mapInPandas`` operators in ``plumberapp_spark.llm`` tokenize
  with (language ID, token stats, the quality gate, dedup shingles).

The registered queries' DuckDB oracles split text the same way.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic marker lists (public stopword-style heuristic) for
# plumberapp_spark.llm.textqa.language_id. Real deployments swap in
# fastText/CLD3 at that Arrow pass; the heuristic keeps the oracle exact.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# The whitespace rule, spelled out once for every tokenizer in the
# engine. The DuckDB oracles split on RE2's \s, which is exactly
# [ \t\n\f\r]. Java's \s (F.split, regexp_replace) and Python's \s
# (even under re.ASCII) ALSO match U+000B (vertical tab), and Python's
# default \s is Unicode-aware besides (NBSP, U+2028, ideographic
# space). So neither engine's \s is used: both sides match this
# explicit class. Agreement with DuckDB on U+000B and non-ASCII
# whitespace, for both halves of this module, is pinned in
# tests/test_textops_vectorized.py::test_unicode_whitespace_parity.
WS_CHARS = r" \t\n\f\r"
_WS = f"[{WS_CHARS}]+"
# one punctuation character: neither an ASCII word character (Java's and
# RE2's \w; Python needs re.ASCII) nor whitespace
PUNCT = f"[^\\w{WS_CHARS}]"

import re as _re_mod  # noqa: E402  (kept local to avoid polluting the API)

WS_SPLIT = _re_mod.compile(_WS)


def split_tokens(text: str | None) -> list[str]:
    """The Python-side twin of :func:`tokenize` for Arrow
    ``mapInPandas`` operators: whitespace tokens, empty tokens removed,
    ``[]`` for a NULL text."""
    return [t for t in WS_SPLIT.split(text) if t] if text is not None else []


def tokenize(col: Column) -> Column:
    """Whitespace tokenization, empty tokens removed.

    DuckDB: ``list_filter(string_split_regex(x, '\\s+'), t -> t != '')``.
    """
    return F.filter(F.split(col, _WS), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokenize(col))


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams joined with ' ' (shingles for Jaccard/MinHash).

    ``transform(sequence(1, size-n+1), i -> concat_ws(' ', slice(tokens, i, n)))``;
    empty array when fewer than n tokens.
    """
    count = F.size(tokens) - (n - 1)
    # sequence(1, 0) yields a DESCENDING [1,0] in Spark — guard short docs.
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def quality_features(col: Column) -> dict[str, Column]:
    """Quality-scoring features: length, token count, mean token length,
    punctuation ratio, stopword ratio. Each is a named column expression.
    """
    toks = tokenize(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    punct = n_chars - F.length(F.regexp_replace(col, PUNCT, ""))
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS)))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "mean_token_len": F.when(
            n_tok > 0, (n_chars - (n_tok - 1)) / n_tok
        ).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0)),
    }


def doc_fingerprint(col: Column) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct
    lowercase token set (the standard 'fingerprint' key used for clustering
    near-identical docs that differ in order/casing/whitespace).
    """
    canon = F.array_join(F.array_sort(F.array_distinct(tokenize(F.lower(col)))), " ")
    return F.md5(canon)
