"""Text-analysis Column builders: tokenization, quality, language-ID.

All pure Column expressions (JVM-side, codegen'd; no UDFs) so they hold up
on 100 TB text — and every expression has an exact ANSI-SQL twin used by
the DuckDB oracle (see plans/queries.py). The normalization pipeline is
deliberately regex-portable between Java regex and RE2.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, single non-space symbol.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

#: small deterministic stopword inventories for the language-ID heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que", "por", "con"],
}


def _word_normalized(col: Column) -> Column:
    """Lowercased text with every non-[a-z0-9] run collapsed to one space."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")


def words(col: Column) -> Column:
    """Lowercased alnum word tokens; '' entries filtered (portable split)."""
    return F.filter(F.split(_word_normalized(col), " "), lambda x: x != "")


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of the raw text ('' filtered)."""
    return F.filter(F.split(col, "\\s+"), lambda x: x != "")


def bpe_ish_tokens(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0)


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of ``words(col)`` as space-joined strings
    (dedup unit), in first-occurrence order.

    One ``regexp_extract_all`` over the normalized string ``words()``
    splits: a zero-width match at every word start whose lookahead
    captures the next k words. It builds no token array and runs no
    lambdas, where zipping shifted token arrays costs k-1 interpreted
    ``zip_with`` passes. A text with fewer than k words yields ``[]``;
    null yields null.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = "[a-z0-9]+"
    pattern = f"(?<![a-z0-9])(?=((?:{w} ){{{k - 1}}}{w}))"
    return F.array_distinct(
        F.regexp_extract_all(_word_normalized(col), F.lit(pattern), 1)
    )


def ngrams(tokens: Column, k: int = 2) -> Column:
    """ALL k-word grams in order (duplicates kept) — the unit for
    repetition statistics, where multiplicity is the signal that
    ``word_shingles``' array_distinct would destroy. Built by zipping k
    shifted copies of the token array — NOT
    ``transform(sequence, i -> slice(tokens, i, k))``: `slice` with a
    lambda-bound start index falls off the codegen path and copies O(n)
    per element (O(n²) per row)."""
    n_g = F.greatest(F.size(tokens) - (k - 1), F.lit(0))
    acc = F.slice(tokens, 1, n_g)
    for i in range(1, k):
        acc = F.zip_with(
            acc, F.slice(tokens, i + 1, n_g), lambda a, b: F.concat_ws(" ", a, b)
        )
    return acc


def stopword_hits(tokens: Column, stops: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(stops)))


def langid_scores(tokens: Column) -> dict[str, Column]:
    return {lang: stopword_hits(tokens, stops) for lang, stops in LANG_STOPWORDS.items()}


#: zlib level pinned so the signal is stable across sessions (6 is the
#: zlib default, but an implicit default is not a contract).
ZLIB_LEVEL = 6


def zlib_bytes(col: Column) -> Column:
    """Compressed size (bytes) of the column's UTF-8 text under zlib
    level :data:`ZLIB_LEVEL` — the one text signal here that genuinely
    cannot be a Column expression. Arrow-batched scalar pandas UDF
    (never row-at-a-time): the hot loop is C zlib over each batch, so
    this holds up as a per-document scan signal at 100 TB. Used by the
    compressibility quality filter (the CCNet/Gopher-class heuristic:
    highly compressible text is boilerplate/repetition, nearly
    incompressible text is noise/binary junk)."""
    import zlib

    @F.pandas_udf("long")
    def _z(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), ZLIB_LEVEL))
            if t is not None
            else None
        ).astype("Int64")

    return _z(col)
