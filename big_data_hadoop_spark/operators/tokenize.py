"""Tokenization (SURVEY §2.2 P1-P5).

Two shapes, both built on the same split+classify expressions:

- ``tokenized`` keeps the token stream as ARRAY columns (``toks``,
  ``cats``) — the co-occurrence operators consume this form and compute
  windows with array functions, so adjacency never needs a shuffle or a
  self-join.
- ``tokens`` explodes to one row per raw position — the counting operators
  and the relational surface consume this long form.

Positions are 0-based over the RAW split stream **including** tokens that
match no category: in the reference, a non-matching token occupies a
position and breaks adjacency but never pairs
(``HadoopWordPairs.java:54-78``). Pairs/stripes here are strictly
per-document (per-line for line sources) — a deliberate, documented fix of
the reference's accidental cross-line carryover (SURVEY Q2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_data_hadoop_spark.functions.rank import _quote
from big_data_hadoop_spark.functions.text import category_sql


def tokenized(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = False,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Add ``toks: array<string>`` and ``cats: array<string>`` columns.

    ``cats[i]`` is the category of ``toks[i]`` or NULL. Both arrays are
    positionally aligned with the raw split stream. The split is
    :func:`~big_data_hadoop_spark.functions.text.split_tokens` in SQL; it
    sits in its own projection so ``cats`` reads it instead of repeating it.
    """
    keep = [_quote(c) for c in keep_cols]
    text = f"lower({_quote(text_col)})" if lowercase else _quote(text_col)
    return df.selectExpr(*keep, f"split({text}, ' ', -1) AS toks").selectExpr(
        *keep, "toks", f"transform(toks, t -> {category_sql('t')}) AS cats"
    )


def tokens(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = False,
    keep_cols: tuple[str, ...] = ("doc_id",),
    categorized_only: bool = True,
) -> DataFrame:
    """Long form: one row per raw token position.

    Columns: ``*keep_cols, pos int, token string, category string``.
    With ``categorized_only`` (default) rows whose token matches neither
    pattern are dropped — positions are assigned before the filter, so
    adjacency semantics survive.
    """
    keep = [_quote(c) for c in keep_cols]
    t = tokenized(df, text_col=text_col, lowercase=lowercase, keep_cols=keep_cols)
    out = t.selectExpr(
        *keep, "posexplode(arrays_zip(toks, cats)) AS (pos, tc)"
    ).selectExpr(*keep, "pos", "tc.toks AS token", "tc.cats AS category")
    if categorized_only:
        out = out.where("category IS NOT NULL")
    return out
