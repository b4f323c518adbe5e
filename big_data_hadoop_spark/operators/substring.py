"""Exact duplicated-substring detection and removal (corpus-level).

The window-hash formulation of exact substring deduplication from the
public "Deduplicating Training Data Makes Language Models Better" line of
work (Lee et al. 2021): any substring of length >= k that occurs twice in
the corpus is, position by position, a run of duplicated character
k-grams, so marking every k-char window whose content occurs at an
earlier corpus position and merging overlapping marks recovers the
duplicated regions without a suffix array — the shape that distributes.
The reference repo has no analog; this extends the engine's dedup tier
(exact / MinHash-LSH / SimHash / PPJoin / winnow) down to sub-document
granularity.

Exact semantics (fixed contract, replicated by the pure-Python oracle in
``tests/test_substring.py``):

* Positions are 0-based character offsets into the RAW text (no
  lowercasing or normalization — exact substring dedup is byte-faithful).
* The window at ``(doc_id, pos)`` is REDUNDANT iff the same k-gram
  content also occurs at a lexicographically smaller ``(doc_id, pos)`` —
  corpus-global keep-first, so the first occurrence of any repeated
  region survives removal, and within-document self-repeats count.
* ``duplicate_spans`` merges a document's redundant windows that overlap
  or touch (``next_start <= current_end``, ends exclusive) into maximal
  ``(doc_id, span_start, span_len)`` rows, ``span_len >= k``.
* ``remove_duplicate_spans`` excises exactly those character ranges and
  returns each document's surviving text (order preserved, no joiner
  inserted). Removal can itself create new k-grams across excision
  boundaries; one pass makes no fixpoint claim (neither does the
  published algorithm).

Content identity is ``xxhash64`` of the k-gram, not the k-gram string:
the shuffle moves 8-byte keys instead of k-char substrings. A collision
falsely marks one window redundant; at 64 bits that needs ~2^32
duplicated-window candidates sharing a partition of the hash space —
negligible against corpus sizes this engine targets, and the reason this
family sits in the rows-only verification tier (hash identity is not
ANSI-SQL-reproducible).

Scale shape: ONE narrow per-row pass builds the window-hash array (an
attribute-staged ``transform``, no O(len^2) re-evaluation), ONE explode
to ``(hash, doc, pos)`` rows — linear in corpus characters, the honest
cost of the algorithm — and ONE shuffle of those rows, partitioned by
the 8-byte hash, under ``min(struct(doc, pos)) OVER (PARTITION BY
hash)``; each row compares itself to its hash's minimum in place, so
the dominant relation is shuffled exactly once (the groupBy-then-join
alternative shuffles it twice — measured 2x slower at sf0.1). Only the
surviving redundant rows (duplicated text, typically a small fraction)
reach the per-document aggregation. Span merging and excision are
native expression folds (zero additional shuffle). Nothing is
all-pairs and no posting list is ever collected: hot k-grams
(boilerplate shared by millions of documents) are just rows sharing a
hash partition, never lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote

__all__ = ["duplicate_spans", "remove_duplicate_spans"]


def _kgram_hashes(t: str, k: int) -> str:
    """SQL text for the ``xxhash64`` of every character ``k``-gram of
    the string column ``t``, in position order: one ``substring`` slice
    per position over an index sequence (one O(k) copy each — a
    char-array concat-fold measured ~4x slower). NULL when ``t`` is
    shorter than ``k``. ``t`` must be an attribute (stage an expression
    as a column first): a subtree captured by the lambda re-evaluates at
    every position. The one rendering behind this module's windows and
    ``textstats.winnow_fingerprints``."""
    n = f"length({t}) - {k} + 1"
    return (
        f"CASE WHEN {n} >= 1 THEN transform(sequence(1, greatest({n}, 1)), "
        f"i -> xxhash64(substring({t}, i, {k}))) END"
    )


def _redundant_starts(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """``(id_col, starts)``: per document, the SORTED 0-based start
    positions of windows whose k-gram content has an earlier occurrence.
    Documents with no redundant window are absent."""
    if k < 2:
        raise ValueError(f"window length k must be >= 2, got {k}")
    key = _quote(id_col)
    occ = df.selectExpr(key, f"{_quote(text_col)} AS _t").selectExpr(
        key, f"posexplode({_kgram_hashes('_t', k)}) AS (pos, h)"
    )
    # Unique hashes (the dominant mass) are their own minimum and drop
    # out here; only genuinely duplicated windows survive the filter.
    first = F.expr(f"min(struct({key} AS d, pos AS p)) OVER (PARTITION BY h)")
    red = (
        occ.withColumn("first", first)
        .where(f"{key} != first.d OR pos != first.p")
        .select(key, "pos")
    )
    return red.groupBy(key).agg(F.expr("sort_array(collect_list(pos)) AS starts"))


def _merge_spans(starts: str, k: int) -> str:
    """Sorted window starts (the array column ``starts``) -> merged
    ``array<struct<s,e>>`` spans (``e`` exclusive), merging windows that
    overlap or touch; one fold, as SQL text."""
    last = "element_at(acc, -1)"
    return (
        f"aggregate({starts}, CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>), "
        f"(acc, s) -> CASE WHEN size(acc) > 0 AND s <= {last}.e "
        f"THEN concat(slice(acc, 1, size(acc) - 1), "
        f"array(struct({last}.s AS s, greatest({last}.e, s + {k}) AS e))) "
        f"ELSE concat(acc, array(struct(s AS s, s + {k} AS e))) END)"
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated character spans per document (see module
    docstring for the redundancy contract). Output: ``(id_col,
    span_start, span_len)``, one row per merged span; documents whose
    text repeats nothing emit no rows."""
    key = _quote(id_col)
    return _redundant_starts(df, k, text_col, id_col).selectExpr(
        key, f"explode({_merge_spans('starts', k)}) AS sp"
    ).selectExpr(
        key,
        "CAST(sp.s AS BIGINT) AS span_start",
        "CAST(sp.e - sp.s AS BIGINT) AS span_len",
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents with every duplicated span excised (corpus-global
    keep-first: the earliest occurrence of a repeated region is the one
    that survives). Output: the input columns with ``text_col`` replaced
    by the cleaned text; rows whose text had no duplicated span pass
    through byte-identical."""
    marked = _redundant_starts(df, k, text_col, id_col)
    joined = df.join(marked, id_col, "left")
    text = _quote(text_col)
    cleaned = (
        f"aggregate({_merge_spans('starts', k)}, named_struct('prev', 0, "
        "'out', CAST('' AS STRING)), (acc, sp) -> named_struct('prev', sp.e, "
        f"'out', concat(acc.out, substring({text}, acc.prev + 1, sp.s - acc.prev)))"
        f", acc -> concat(acc.out, substring({text}, acc.prev + 1, "
        f"length({text}) - acc.prev)))"
    )
    out_text = F.expr(f"CASE WHEN starts IS NULL THEN {text} ELSE {cleaned} END")
    return joined.select(
        *[
            out_text.alias(c) if c == text_col else F.col(_quote(c))
            for c in df.columns
        ]
    )
