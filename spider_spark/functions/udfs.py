"""Vectorized (Arrow-batched) pandas UDFs + JVM-side expression helpers.

The `input_hint` mandates pandas/Arrow UDFs only — no per-row Python.
Everything that CAN stay JVM-side does (stop-word predicate, CJK char
classes via regex, positions via windows); Python appears only where
exact automaton parity demands it (tokenizer, canonicalizer, URL
extraction).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                               StringType, StructField, StructType)

from pyspark.sql.types import LongType

from .cjk import _CJK_RANGES
from .tokenizer import KEEP_NON_LETTER_MIN_CHARS, STOP_WORDS, tokenize_series
from .urlnorm import canonicalize_parts_frame


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Exact SearchTokenizer automaton, pairs=False (Spider.java:682-684)."""
    return tokenize_series(texts, return_pairs=False)


# str.isascii as a Java regex (every char <= U+007F)
_ASCII_ONLY_RE = r"^[\x00-\x7F]*$"
# the ASCII fast path's candidate-run shape (tokenizer._ASCII_RUN)
_ASCII_RUN_RE = "[a-z0-9][a-z0-9']*"


def tokenize_ascii_col(text: Column) -> Column:
    """JVM-expression twin of the tokenizer's ASCII fast path
    (functions/tokenizer.py:_tokenize_ascii) — valid ONLY for ASCII
    input, where the automaton reduces to: candidate runs are maximal
    ``[a-z0-9][a-z0-9']*`` matches over the lowered text; a run is
    emitted iff it contains a letter, its raw length (trailing
    apostrophes included) is >= 3, or it is the final run and reaches
    end-of-string (SearchTokenizer.java:104-108's flush quirk); the
    token is the run with trailing apostrophes stripped.  Stays inside
    whole-stage codegen — no Arrow hop, no Python worker.

    Equivalence with the Python path on ASCII input is pinned by
    tests/test_tokenizer.py (fast path ≡ automaton property test plus
    the Spark-side hybrid equivalence test)."""
    lowered = F.lower(text)
    runs = F.regexp_extract_all(lowered, F.lit(_ASCII_RUN_RE), F.lit(0))
    # maximal matching makes "a run ends at end-of-string" equivalent
    # to "some run-shaped suffix exists"; \z, not $ — Java's $ also
    # matches before a final line terminator, which is NOT end-of-input
    # for the automaton's flush rule
    last_at_end = lowered.rlike(_ASCII_RUN_RE + "\\z")
    n = F.size(runs)
    indexed = F.transform(
        runs, lambda r, i: F.struct(r.alias("r"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: s["r"].rlike("[a-z]")
        | (F.length(s["r"]) >= KEEP_NON_LETTER_MIN_CHARS)
        | ((s["i"] == n - 1) & last_at_end),
    )
    return F.transform(kept, lambda s: F.regexp_replace(s["r"], "'+$", ""))


def tokens_col(text: Column) -> Column:
    """Tokenizer entry point: the Arrow-batched UDF, whose first move
    per row is a C-level regex fast path for pure-ASCII text (the
    web-scale common case) and the exact per-codepoint automaton
    otherwise (functions/tokenizer.py:tokenize_series).

    A JVM-expression twin exists (``tokenize_ascii_col``) and was the
    dispatch target for ASCII rows until round 4 — measured on
    2400-token spans it is >30x SLOWER than the Arrow hop: the
    higher-order functions it needs (transform/filter with a regex or
    string op per token element) execute INTERPRETED, off the codegen
    path, so per-element overhead dwarfs the Arrow transfer it avoids
    (28-core kernel probe: 7.3s UDF vs 249s expression for 30k docs;
    a split()-based variant with non-regex element ops was no better).
    The twin stays for oracle-SQL parity tests; the hot path is the
    vectorized UDF — which is also what the input_hint mandates."""
    return tokenize_udf(text)


_CANON_PARTS_TYPE = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("edition", LongType()),
])


@pandas_udf(_CANON_PARTS_TYPE)
def canon_parts_udf(urls: pd.Series) -> pd.DataFrame:
    """Fused canonicalize+host+edition: one Arrow round-trip and one
    urlsplit per URL (admission hot path — was three chained UDFs)."""
    return canonicalize_parts_frame(urls)


# ---- JVM-side expression builders -----------------------------------------

def cjk_char_class() -> str:
    """Java-regex character class covering the reference's CJK blocks
    (SearchUtil.java:8-30), incl. supplementary planes via \\x{...}."""
    parts = []
    for lo, hi in _CJK_RANGES:
        parts.append(f"\\x{{{lo:X}}}-\\x{{{hi:X}}}")
    return "[" + "".join(parts) + "]"


_CJK_CLASS = cjk_char_class()


def keep_token(tok: Column) -> Column:
    """JVM-side stop-word predicate — behavioral mirror of
    SearchUtil.isStopWord (SearchUtil.java:36-54), negated.

    Keep iff: not an English stop word AND (>=3 codepoints OR first char
    CJK OR (2 chars and second char CJK))."""
    n = F.length(tok)
    first_cjk = F.substring(tok, 1, 1).rlike("^" + _CJK_CLASS + "$")
    second_cjk = F.substring(tok, 2, 1).rlike("^" + _CJK_CLASS + "$")
    return (~tok.isin(*STOP_WORDS)) & (
        (n >= 3) | first_cjk | ((n == 2) & second_cjk)
    )


def badlist_extension_regex(extensions: tuple[str, ...]) -> str:
    """One compiled alternation for the extension badlist suffix test
    (Spider.java:156-162; list db/Config.java:48-56)."""
    import re as _re

    return "(" + "|".join(_re.escape(e) for e in extensions) + ")$"


def url_path(url: Column) -> Column:
    """Path component of a canonical URL, JVM-side."""
    p = F.regexp_extract(url, r"^https?://[^/]+(/[^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)
