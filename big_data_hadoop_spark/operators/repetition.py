"""Intra-document repetition signals (the Gopher quality-filter family).

Implements the repetition measurements from the public Gopher paper (Rae
et al. 2021, "Scaling Language Models: Methods, Analysis & Insights from
Training Gopher", Table A1), the family open curation stacks apply before
training: duplicate-line fraction, duplicate-line character fraction, top
n-gram character fraction (small n), and duplicated n-gram character
coverage (larger n). High values mark boilerplate-heavy or degenerate
documents. The reference has no analog (its surface is the six word-count
programs); this extends the engine's LLM-curation tier alongside
``textstats.quality_scores``.

Exact semantics (a fixed contract, replicated instruction-for-instruction
by the pure-Python oracle in ``tests/test_repetition.py``):

* Lines are ``split(text, '\\n')`` with empty lines dropped; paragraphs
  are ``split(text, '\\n\\n')`` with paragraphs dropped when they contain
  only ASCII whitespace (the explicit class ``[ \\t\\n\\x0b\\f\\r]`` —
  both Gopher units).
* ``dup_line_frac`` = (n_lines - n_distinct_lines) / n_lines, and the
  same formula per paragraph as ``dup_para_frac``.
* ``dup_line_char_frac`` = characters in repeated line occurrences beyond
  each line's first / total line characters; ``dup_para_char_frac``
  likewise per paragraph.
* Tokens are the engine's single-space split (``functions.text.
  kept_tokens``: lowercased, empties dropped). An n-gram's character
  length is the sum of its token lengths (joining spaces excluded); the
  per-document denominator is the sum of ALL token lengths.
* ``top_{n}gram_char_frac`` = count * chars(g) / total for the most
  frequent n-gram ``g``, clamped to 1.0 — 0.0 when no n-gram repeats or
  the document has fewer than n tokens. Overlapping occurrences each
  count, so the raw ratio exceeds 1 on degenerate docs (12x ``"a"`` →
  11 * 2 / 12); the clamp keeps the [0, 1] bound without moving any
  real filter threshold. Ties break by (count, char length, gram
  string) descending: a determinism pin, not semantics.
* ``dup_{n}gram_char_frac`` = summed length of token positions covered by
  at least one n-gram occurring more than once, / total. Overlapping
  duplicate n-grams cover each position once (coverage, not
  multiplicity) — the Gopher definition. Gram identity on this path is
  ``xxhash64`` over the token slice (the q61 duplicate-span precedent:
  64-bit content identity instead of materialized gram strings — a
  collision, ~#grams²/2⁶⁴, could only mark one extra position
  duplicated).

Scale shape: the ENTIRE operator is per-row native expressions — ZERO
shuffle. N-gram frequencies are per-document by definition, so instead
of exploding (doc, n, position) rows and aggregating them back by
``(doc_id, n, gram)`` (the previous formulation: two corpus-wide
exchanges plus two joins to re-attach the per-doc results), each
document counts its own grams locally: sort the gram array
(``array_sort`` — runs of equal grams become contiguous), then one
linear ``aggregate`` fold tracks run lengths and the running
(count, char-length, gram) maximum for the top-n-gram family, and one
shifted ``zip_with`` neighbor-equality pass marks duplicated-gram start
positions for the coverage family. O(len·log len) work per document per
n, state bounded by the document's own token count (the same per-row
arrays the explode formulation materialized anyway), and the corpus
never crosses the network — at 100 TB the old (doc, n, gram) exchange
shipped most of the corpus 9 times; this ships nothing.

Every fold is SQL text parsed JVM-side, with the caller's column names
quoted — the package's one idiom for array kernels. Built as Column
lambdas instead, the default call's plan took 9,743 py4j round trips
and ~1.5 s of driver time on a 50-document frame; parsed, 126 and
~0.35 s (pinned in ``tests/test_py4j_budgets.py``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote
from big_data_hadoop_spark.functions.text import kept_tokens

__all__ = ["dup_line_frac_col", "repetition_signals"]


def _lines(text: str) -> str:
    """The non-empty lines of ``text``."""
    return f"filter(split({text}, '\\n', -1), l -> l != '')"


def _dup_frac(units: str) -> str:
    """The fraction of ``units`` that repeat an earlier unit (0 when
    there are none)."""
    n = f"CAST(size({units}) AS BIGINT)"
    return (
        f"CAST({n} - CAST(size(array_distinct({units})) AS BIGINT) AS DOUBLE)"
        f" / greatest({n}, 1L)"
    )


def dup_line_frac_col(text_col: str = "text") -> Column:
    """``dup_line_frac`` as a STANDALONE per-row Column (same contract as
    the ``repetition_signals`` output column, pinned by test): the
    fraction of non-empty lines that repeat an earlier line. Stateless
    and shuffle-free, so it composes into fused gate predicates — batch
    scan filters and streaming filters alike (``pipeline.curation_gate``
    uses it for the Gopher-style repetition gate)."""
    return F.expr(_dup_frac(_lines(_quote(text_col))))


def _top_chars(n: int) -> str:
    """``count * char_len`` of the documented argmax gram (0 when no
    gram repeats): fold the SORTED gram array once, closing each run
    against the running best with the same (c, gl, g) lexicographic
    order the previous max(struct) aggregation used."""
    grams = _grams(n, f"array_join(slice(_toks, i, {n}), ' ')")
    # the finished run: gram acc.prev, count acc.run, char length =
    # string length minus the n-1 joining spaces; no run open (empty
    # array) keeps the best
    gl = f"CAST(length(acc.prev) - {n} + 1 AS BIGINT)"
    beats = (
        f"(acc.run > acc.bc OR (acc.run = acc.bc AND ({gl} > acc.bgl OR "
        f"({gl} = acc.bgl AND acc.prev > acc.bg))))"
    )
    keep = f"(acc.run = 0 OR NOT {beats})"
    bc = f"CASE WHEN {keep} THEN acc.bc ELSE acc.run END"
    bgl = f"CASE WHEN {keep} THEN acc.bgl ELSE {gl} END"
    bg = f"CASE WHEN {keep} THEN acc.bg ELSE acc.prev END"
    same = "coalesce(acc.prev = g, false)"
    merge = (
        f"(acc, g) -> named_struct('prev', g, "
        f"'run', CASE WHEN {same} THEN acc.run + 1 ELSE 1L END, "
        f"'bc', CASE WHEN {same} THEN acc.bc ELSE {bc} END, "
        f"'bgl', CASE WHEN {same} THEN acc.bgl ELSE {bgl} END, "
        f"'bg', CASE WHEN {same} THEN acc.bg ELSE {bg} END)"
    )
    init = (
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'bc', 0L, "
        "'bgl', CAST(NULL AS BIGINT), 'bg', CAST(NULL AS STRING))"
    )
    finish = f"acc -> CASE WHEN {bc} > 1 THEN {bc} * {bgl} ELSE 0L END"
    return f"aggregate(array_sort({grams}), {init}, {merge}, {finish})"


def _grams(n: int, gram: str) -> str:
    """The document's n-grams as the SQL lambda body ``gram`` over the
    1-based start ``i``; NULL for a document shorter than ``n``."""
    return (
        f"CASE WHEN size(_toks) >= {n} THEN transform("
        f"sequence(1, size(_toks) - {n} + 1), i -> {gram}) END"
    )


def _dup_chars(n: int) -> str:
    """Summed token length of the positions covered by a gram whose
    hash occurs more than once. duplicated[i] = eq-next[i] OR
    eq-next[i-1] (eq-next shifted right, padded false at the head) —
    exactly "this gram's hash occurs more than once"; each such gram
    covers its n positions from its 0-based start."""
    sh, en = f"_sh_{n}", f"_en_{n}"
    dup = (
        f"zip_with({en}, concat(array(false), slice({en}, 1, "
        f"greatest(size({en}) - 1, 0))), (a, b) -> a OR b)"
    )
    starts = (
        f"filter(zip_with({sh}, {dup}, (s, d) -> CASE WHEN d THEN s.pos END), "
        "p -> p IS NOT NULL)"
    )
    covered = (
        f"array_distinct(flatten(transform(coalesce({starts}, "
        f"cast(array() as array<int>)), s -> sequence(s, s + {n - 1}))))"
    )
    return f"aggregate({covered}, 0L, (a, i) -> a + element_at(_tlens, i + 1))"


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: Sequence[int] = (2, 3, 4),
    dup_ns: Sequence[int] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Per-document repetition signals; see module docstring for the
    exact contract. Output: ``(id_col, dup_line_frac,
    dup_line_char_frac, top_{n}gram_char_frac..., dup_{n}gram_char_frac
    ...)``, one row per input row, all fractions DOUBLE in [0, 1].
    """
    top_ns = sorted(set(top_ns))
    dup_ns = sorted(set(dup_ns))
    all_ns = sorted({*top_ns, *dup_ns})
    if not all_ns or min(all_ns) < 1:
        raise ValueError(f"n-gram sizes must be >= 1: top={top_ns} dup={dup_ns}")

    key, text = _quote(id_col), _quote(text_col)
    # Stage arrays as attributes before any reuse: expressions referenced
    # from several places (or inside HOF lambdas) re-evaluate their whole
    # subtree per reference (see textstats.winnow_fingerprints).
    # "whitespace-only" pins an EXPLICIT ASCII class: SQL trim strips
    # only spaces and Python str.strip() strips all unicode whitespace —
    # either shorthand diverges between the engine and its oracle (same
    # precedent as textstats.BPE_PATTERN). The doubled backslashes are
    # SQL string-literal escapes.
    staged = df.select(
        F.col(key),
        kept_tokens(text_col).alias("_toks"),
        F.expr(_lines(text)).alias("_lines"),
        F.expr(
            f"filter(split({text}, '\\n\\n', -1), "
            r"p -> regexp_replace(p, '[ \\t\\n\\x0b\\f\\r]', '') != '')"
        ).alias("_paras"),
    )

    def _unit_fracs(u: str, name: str) -> list[str]:
        chars = "aggregate({}, 0L, (acc, x) -> acc + CAST(length(x) AS BIGINT))"
        char_frac = (
            f"CAST({chars.format(u)} - {chars.format(f'array_distinct({u})')} "
            f"AS DOUBLE) / greatest({chars.format(u)}, 1L)"
        )
        return [
            f"{_dup_frac(u)} AS dup_{name}_frac",
            f"{char_frac} AS dup_{name}_char_frac",
        ]

    base = staged.selectExpr(
        key,
        "_toks",
        "transform(_toks, t -> CAST(length(t) AS BIGINT)) AS _tlens",
        *_unit_fracs("_lines", "line"),
        *_unit_fracs("_paras", "para"),
    ).withColumn("_tot", F.expr("aggregate(_tlens, 0L, (a, x) -> a + x)"))

    # Per-document gram counting — no explode, no (doc, n, gram)
    # exchange, no join back (see the module docstring's scale-shape
    # note). A doc shorter than n yields a NULL gram array; every
    # downstream expression propagates the NULL and the final coalesce
    # restores the documented zero-fractions. The two signal families
    # still key their grams differently:
    #
    # * top_ns (small n, argmax): the gram STRING is load-bearing — the
    #   documented tie-break orders by (count, char length, gram) and
    #   the char length itself comes off the string — so the sorted
    #   array holds materialized array_join slices and one linear
    #   ``aggregate`` fold replays the exact max(struct(c, gl, g))
    #   ordering over its runs.
    # * dup_ns (large n, coverage): the gram is ONLY an identity key —
    #   ``xxhash64`` over the token slice (the q61 duplicate-span
    #   precedent) — so the sorted array holds (hash, position) structs
    #   sorted by hash (duplicate runs are contiguous, staged as a
    #   column: the two shifted references below re-evaluate their
    #   subtree) and a shifted zip_with neighbor-equality pass marks the
    #   start positions of grams occurring more than once.
    base = base.selectExpr(
        "*",
        *[f"{_top_chars(n)} AS _top_{n}" for n in top_ns],
        *[
            "array_sort("
            + _grams(
                n,
                f"named_struct('h', xxhash64(slice(_toks, i, {n})), "
                "'pos', CAST(i - 1 AS INT))",
            )
            + f") AS _sh_{n}"
            for n in dup_ns
        ],
    ).selectExpr(
        "*",
        # eq-next flags: element i is true when gram hash i equals hash
        # i+1 in sorted order (zip_with pads the shifted side with NULL
        # -> coalesce false at the tail)
        *[
            f"zip_with(_sh_{n}, slice(_sh_{n}, 2, greatest(size(_sh_{n}) - 1, 0)), "
            f"(x, y) -> coalesce(x.h = y.h, false)) AS _en_{n}"
            for n in dup_ns
        ],
    )
    tot = "greatest(_tot, 1L)"
    return base.selectExpr(
        key,
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        *[
            f"least(CAST(coalesce(_top_{n}, 0L) AS DOUBLE) / {tot}, 1.0D) "
            f"AS top_{n}gram_char_frac"
            for n in top_ns
        ],
        *[
            f"CAST({_dup_chars(n)} AS DOUBLE) / {tot} AS dup_{n}gram_char_frac"
            for n in dup_ns
        ],
    )
