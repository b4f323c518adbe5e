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
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.text import kept_tokens

__all__ = ["dup_line_frac_col", "repetition_signals"]


def _char_sum(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )


def _lines(text: Column) -> Column:
    """The non-empty lines of ``text``."""
    return F.filter(F.split(text, "\n", -1), lambda l: l != F.lit(""))


def _dup_frac(units: Column) -> Column:
    """The fraction of ``units`` that repeat an earlier unit (0 when
    there are none)."""
    n = F.size(units).cast("long")
    return (n - F.size(F.array_distinct(units)).cast("long")).cast(
        "double"
    ) / F.greatest(n, F.lit(1).cast("long"))


def dup_line_frac_col(text_col: str = "text") -> Column:
    """``dup_line_frac`` as a STANDALONE per-row Column (same contract as
    the ``repetition_signals`` output column, pinned by test): the
    fraction of non-empty lines that repeat an earlier line. Stateless
    and shuffle-free, so it composes into fused gate predicates — batch
    scan filters and streaming filters alike (``pipeline.curation_gate``
    uses it for the Gopher-style repetition gate)."""
    return _dup_frac(_lines(F.col(text_col)))


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

    toks = kept_tokens(F.col(text_col))
    lines = _lines(F.col(text_col))
    # "whitespace-only" pins an EXPLICIT ASCII class: SQL trim strips
    # only spaces and Python str.strip() strips all unicode whitespace —
    # either shorthand diverges between the engine and its oracle (same
    # precedent as textstats.BPE_PATTERN).
    paras = F.filter(
        F.split(F.col(text_col), "\n\n", -1),
        lambda p: F.regexp_replace(p, "[ \t\n\x0b\f\r]", "") != F.lit(""),
    )

    # Stage arrays as attributes before any reuse: expressions referenced
    # from several places (or inside HOF lambdas) re-evaluate their whole
    # subtree per reference (see textstats.winnow_fingerprints).
    staged = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        lines.alias("_lines"),
        paras.alias("_paras"),
    )

    def _unit_fracs(col: str) -> tuple[Column, Column]:
        dist = F.array_distinct(F.col(col))
        char_frac = (
            (_char_sum(F.col(col)) - _char_sum(dist)).cast("double")
            / F.greatest(_char_sum(F.col(col)), F.lit(1).cast("long"))
        )
        return _dup_frac(F.col(col)), char_frac

    line_frac, line_char_frac = _unit_fracs("_lines")
    para_frac, para_char_frac = _unit_fracs("_paras")
    base = staged.select(
        F.col(id_col),
        F.col("_toks"),
        F.transform("_toks", lambda t: F.length(t).cast("long")).alias("_tlens"),
        line_frac.alias("dup_line_frac"),
        line_char_frac.alias("dup_line_char_frac"),
        para_frac.alias("dup_para_frac"),
        para_char_frac.alias("dup_para_char_frac"),
    ).withColumn(
        "_tot",
        F.aggregate("_tlens", F.lit(0).cast("long"), lambda a, x: a + x),
    )

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
    #   and a shifted zip_with neighbor-equality pass marks the start
    #   positions of grams occurring more than once.
    def _grams(n: int, gram_expr) -> Column:
        return F.when(
            F.size("_toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - n + 1),
                gram_expr,
            ),
        )

    def _top_chars(n: int) -> Column:
        """``count * char_len`` of the documented argmax gram (0 when no
        gram repeats): fold the SORTED gram array once, closing each
        run against the running best with the same (c, gl, g)
        lexicographic order the previous max(struct) aggregation used.
        """
        sorted_g = F.array_sort(
            _grams(n, lambda i: F.array_join(F.slice("_toks", i, n), " "))
        )

        def _close_run(acc) -> list[Column]:
            # the finished run: gram acc["prev"], count acc["run"],
            # char length = string length minus the n-1 joining spaces
            gl = (F.length(acc["prev"]) - F.lit(n) + 1).cast("long")
            beats = (acc["run"] > acc["bc"]) | (
                (acc["run"] == acc["bc"])
                & (
                    (gl > acc["bgl"])
                    | ((gl == acc["bgl"]) & (acc["prev"] > acc["bg"]))
                )
            )
            keep = acc["run"] == 0  # no run open (empty array) — keep best
            return [
                F.when(keep | ~beats, acc["bc"]).otherwise(acc["run"]),
                F.when(keep | ~beats, acc["bgl"]).otherwise(gl),
                F.when(keep | ~beats, acc["bg"]).otherwise(acc["prev"]),
            ]

        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("bc"),
            F.lit(None).cast("long").alias("bgl"),
            F.lit(None).cast("string").alias("bg"),
        )

        def _merge(acc, g):
            same = F.coalesce(acc["prev"] == g, F.lit(False))
            bc, bgl, bg = _close_run(acc)
            return F.struct(
                g.alias("prev"),
                F.when(same, acc["run"] + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("run"),
                F.when(same, acc["bc"]).otherwise(bc).alias("bc"),
                F.when(same, acc["bgl"]).otherwise(bgl).alias("bgl"),
                F.when(same, acc["bg"]).otherwise(bg).alias("bg"),
            )

        def _finish(acc):
            bc, bgl, bg = _close_run(acc)
            return F.when(bc > 1, bc * bgl).otherwise(F.lit(0).cast("long"))

        return F.aggregate(sorted_g, init, _merge, _finish)

    def _dup_starts_sorted(n: int) -> Column:
        """(hash, pos) structs sorted by hash — duplicate runs are
        contiguous, so start positions of repeated grams fall out of a
        neighbor-equality pass (staged as a column by the caller: the
        two shifted references below re-evaluate their subtree)."""
        return F.array_sort(
            _grams(
                n,
                lambda i: F.struct(
                    F.xxhash64(F.slice("_toks", i, n)).alias("h"),
                    (i - 1).cast("int").alias("pos"),
                ),
            )
        )

    base = base.select(
        "*",
        *[_top_chars(n).alias(f"_top_{n}") for n in top_ns],
        *[_dup_starts_sorted(n).alias(f"_sh_{n}") for n in dup_ns],
    ).select(
        "*",
        *[
            # eq-next flags: element i is true when gram hash i equals
            # hash i+1 in sorted order (zip_with pads the shifted side
            # with NULL -> coalesce false at the tail)
            F.zip_with(
                F.col(f"_sh_{n}"),
                F.slice(
                    F.col(f"_sh_{n}"),
                    2,
                    F.greatest(F.size(f"_sh_{n}") - 1, F.lit(0)),
                ),
                lambda x, y: F.coalesce(x["h"] == y["h"], F.lit(False)),
            ).alias(f"_en_{n}")
            for n in dup_ns
        ],
    )

    def _starts(n: int) -> Column:
        # duplicated[i] = eq-next[i] OR eq-next[i-1] (shift right, pad
        # false at the head) — exactly "this gram's hash occurs more
        # than once"; emit its 0-based start position
        ep = F.concat(
            F.array(F.lit(False)),
            F.slice(
                F.col(f"_en_{n}"),
                1,
                F.greatest(F.size(f"_en_{n}") - 1, F.lit(0)),
            ),
        )
        dup = F.zip_with(F.col(f"_en_{n}"), ep, lambda a, b: a | b)
        return F.filter(
            F.zip_with(
                F.col(f"_sh_{n}"), dup, lambda s, d: F.when(d, s["pos"])
            ),
            lambda p: p.isNotNull(),
        )

    tot = F.greatest(F.col("_tot"), F.lit(1).cast("long"))
    out_cols = [
        F.col(id_col),
        F.col("dup_line_frac"),
        F.col("dup_line_char_frac"),
        F.col("dup_para_frac"),
        F.col("dup_para_char_frac"),
    ]
    for n in top_ns:
        out_cols.append(
            F.least(
                F.coalesce(F.col(f"_top_{n}"), F.lit(0).cast("long")).cast("double")
                / tot,
                F.lit(1.0),
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        covered = F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(
                        _starts(n),
                        F.expr("cast(array() as array<int>)"),
                    ),
                    lambda s: F.sequence(s, s + F.lit(n - 1)),
                )
            )
        )
        covered_len = F.aggregate(
            covered,
            F.lit(0).cast("long"),
            lambda a, i: a + F.element_at("_tlens", i + 1),
        )
        out_cols.append(
            (covered_len.cast("double") / tot).alias(f"dup_{n}gram_char_frac")
        )
    return base.select(*out_cols)
