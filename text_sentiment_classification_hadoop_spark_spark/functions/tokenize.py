"""Tokenization expressions (SURVEY.md §2.4 T1-T4).

The reference tokenizes cleaned text with a single-space split for word
emission (``NB.java:92``) and with ``split("\\s+")`` for token *counting*
(``NB.java:80,85``). Both are replicated as native expressions.

Quirk preserved (``NB.java:80,85``): Java's ``"".split("\\s+")`` returns
``[""]`` (length 1), so an empty cleaned tweet still contributes 1 to the
class token count. Spark's ``size(split('', ' '))`` and DuckDB's
``len(string_split('', ' '))`` both reproduce this, so the quirk is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_array(col: Column, sep: str = " ") -> Column:
    """T1: single-space split of cleaned text (``NB.java:92``)."""
    return F.split(col, sep)


def row_tokens(col: Column) -> Column:
    """T1 with the empty-text guard of :func:`explode_tokens` (P5,
    ``NB.java:90``), for scoring a row in place: the single-space split
    of non-blank text, no tokens for blank or NULL text."""
    return F.when(F.length(F.trim(col)) > 0, tokens_array(col)) \
        .otherwise(F.array().cast("array<string>"))


def token_count_quirk(col: Column) -> Column:
    """T2 counting semantics (``NB.java:80,85``): ``split("\\s+").length``.

    Empty string counts as 1 token — preserved on purpose.
    """
    return F.size(F.split(col, r"\s+"))


def explode_tokens(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "word",
    keep: list[str] | None = None,
) -> DataFrame:
    """T4: one row per token occurrence (``NB.java:94-95``).

    Replicates the empty-text guard (P5, ``NB.java:90``): tweets whose
    cleaned text is blank emit no words. Runs as generate+project —
    narrow, no shuffle, scales linearly.
    """
    keep = keep if keep is not None else [c for c in df.columns if c != text_col]
    return (df.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(*keep, F.explode(tokens_array(F.col(text_col))).alias(out_col)))
