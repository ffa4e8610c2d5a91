"""Text / string functions (SURVEY.md §2.8 F8-F12; reference
common_stock.py:106-127) plus the tokenizers the text-analysis
operators build on: Column expressions (JVM-side regex) and the one
Python tokenizer the Arrow-batched operators share.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# Reference _clean_text (common_stock.py:115-124): strip emoji ranges
# and URLs before token extraction.
EMOJI_RE = (
    "["
    "\U0001F600-\U0001F64F"
    "\U0001F300-\U0001F5FF"
    "\U0001F680-\U0001F6FF"
    "\U0001F1E0-\U0001F1FF"
    "]+"
)
URL_RE = r"(https?:\/\/)?([\da-z\.-]+)\.([a-z\.]{2,7})([\/\w#?=%+&;.-]*)"

# Reference reg_filter (common_stock.py:125): 2-5 capital letters, or a
# $-prefixed word.
TICKER_TOKEN_RE = r"([A-Z]{2,5})|\$([A-z]+)"


def clean_text(col: str | Column) -> Column:
    """Strip emoji + URLs (common_stock.py:115-126)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, f"{EMOJI_RE}|{URL_RE}", "")


def extract_ticker_tokens(col: str | Column) -> Column:
    """All ticker-like tokens (common_stock.py:125-127): the two regex
    groups coalesced per match, like ``''.join(groups)`` in the
    reference."""
    c = clean_text(col)
    caps = F.regexp_extract_all(c, F.lit(TICKER_TOKEN_RE), 1)
    dollar = F.regexp_extract_all(c, F.lit(TICKER_TOKEN_RE), 2)
    return F.zip_with(caps, dollar, lambda a, b: F.concat(a, b))


def whitespace_tokens(col: str | Column) -> Column:
    """Whitespace tokenization — the token-counting baseline."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


# Java's \s (whitespace_tokens) is ASCII-only: [ \t\n\x0B\f\r].
# Python's default \s is unicode-wide, so pin re.ASCII for token parity.
ASCII_WS = re.compile(r"\s+", re.ASCII)


def ascii_tokens(text) -> list[str]:
    """Python twin of :func:`whitespace_tokens` for one document:
    the non-empty runs between ASCII whitespace; ``[]`` for a
    non-str (null) document."""
    if not isinstance(text, str):
        return []
    return [t for t in ASCII_WS.split(text) if t]


def word_tokens(col: str | Column, lowercase: bool = True) -> Column:
    """BPE-ish word/punctuation split: runs of word chars or single
    non-space symbols — deterministic and SQL-portable."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.regexp_extract_all(c, F.lit(r"([a-z0-9]+|[^a-z0-9\s])"), 1)
