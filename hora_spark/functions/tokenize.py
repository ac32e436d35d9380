"""Tokenizer — THE text → terms function, pinned once.

Semantics: lowercase, split on runs of characters outside [a-z0-9], drop
empties. Three implementations that must agree exactly (tested):

1. `tokens_col`       — JVM-side built-ins (split/lower), codegen'd, the
                        fastest path; used by relational-style operators.
2. `tokenize_udf`     — Arrow-vectorized pandas UDF (the north_star mandates
                        Arrow pandas UDFs for the tokenize stage of the
                        index build; this is also where a heavier tokenizer —
                        ICU, language-aware — would plug in at 100 TB scale).
3. `TOKENIZE_SQL_*`   — DuckDB-compatible SQL fragments for the oracle.

The dimension check of the reference (every insert asserts vector width,
/root/reference/src/core/ann_index.rs:82,92) becomes: tokenize is total on
NULL/empty text (yields []), and the build filters those rows out with a
counted policy instead of panicking (node.rs:158-166 panics on NaN).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hora_spark.config import (
    TOKEN_PATTERN,
    TOKEN_PATTERN_UNICODE_PY,
    TOKEN_SPLIT_RE,
    TOKEN_SPLIT_RE_UNICODE,
)

_TOKEN_RE = re.compile(TOKEN_SPLIT_RE)
_TOKEN_RE_UNI = re.compile(TOKEN_PATTERN_UNICODE_PY, re.UNICODE)


def tokenize_py(text: str | None, unicode: bool = False) -> list[str]:
    """Reference scalar implementation (the `no_thread`/non-simd analog,
    /root/reference/src/core/simd_metrics.rs:30-33): ground truth for tests.
    unicode=True switches to the pinned Unicode letter/digit-run mode
    (config.TOKEN_SPLIT_RE_UNICODE; parity scope = NFC text)."""
    if not text:
        return []
    if unicode:
        return _TOKEN_RE_UNI.findall(text.lower())
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def tokens_col(text: Column, unicode: bool = False) -> Column:
    """JVM built-in tokenizer: F.split on the pinned regex + drop empties.

    Whole-stage-codegen friendly; no Python in the loop.
    """
    split_re = TOKEN_SPLIT_RE_UNICODE if unicode else TOKEN_SPLIT_RE
    return F.array_remove(F.split(F.lower(F.coalesce(text, F.lit(""))), split_re), "")


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized tokenizer: one C-regex findall pass (matching runs
    == splitting on non-runs, with empties never produced). Must agree
    exactly with tokens_col."""
    return texts.fillna("").str.lower().str.findall(TOKEN_PATTERN)


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf_unicode(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized Unicode twin of tokenize_udf — must agree exactly
    with tokens_col(..., unicode=True) on NFC text."""
    return texts.fillna("").str.lower().str.findall(_TOKEN_RE_UNI)


def token_run_regex(unicode: bool = False):
    """The compiled PYTHON run-matching regex for the requested mode —
    what the Arrow build passes feed to pandas .str.findall."""
    return _TOKEN_RE_UNI if unicode else re.compile(TOKEN_PATTERN)


# DuckDB fragments (oracle side). {col} is the text column expression.
TOKENIZE_SQL_ARRAY = (
    "list_filter(string_split_regex(lower(coalesce({col}, '')), '" + TOKEN_SPLIT_RE + "'), x -> x <> '')"
)


def tokenize_sql_array(col: str, unicode: bool = False) -> str:
    """The DuckDB twin as a function (NOT a .format template — the unicode
    split regex contains literal braces, \\p{L}, that str.format would
    treat as placeholders)."""
    split = TOKEN_SPLIT_RE_UNICODE if unicode else TOKEN_SPLIT_RE
    return (
        f"list_filter(string_split_regex(lower(coalesce({col}, '')), "
        f"'{split}'), x -> x <> '')"
    )
