"""Byte-pair-encoding tokenizer: distributed training corpus → learned
merge table → Arrow-batched encoder.

Implements the subword tokenization scheme of Sennrich, Haddow & Birch
2016 ("Neural Machine Translation of Rare Words with Subword Units",
ACL) — the algorithm behind the GPT-2/RoBERTa tokenizer family. The
reference repo counts whitespace tokens only; a training-data engine
needs the real thing for token-budget accounting, pack sizing, and
compression-ratio quality signals.

Division of labor (the KMeans pattern — ``similarity.ivf_build``
collects k centroids, not the corpus):

* **Distributed**: the word-frequency table — one pass of the engine's
  word-count skeleton over the corpus (explode → partial-aggregated
  ``groupBy``). This is the part that touches 100 TB.
* **Driver-side**: merge learning over the TOP ``max_words`` vocabulary
  entries (count desc, word asc — deterministic). BPE's merge loop is
  inherently sequential (merge i+1 depends on the pair counts AFTER
  merge i), and its state is the bounded word-frequency table, not the
  corpus; capping at ``max_words`` (default 100k) covers the token mass
  any real corpus concentrates in its head and bounds driver memory at
  a few MB. The same boundedness argument as fitting k centroids.
* **Distributed again**: encoding, as an Arrow-batched ``mapInPandas``
  with per-batch token memoization — each DISTINCT token in a batch is
  encoded once, and Zipf's law makes the per-batch distinct set small
  relative to the token stream. (A merge application loop over variable
  symbol sequences is genuinely inexpressible in native column
  functions; this is the sanctioned Pandas-UDF slow path, never
  row-at-a-time Python.)

Exact training semantics (pinned by the worked example from the paper
in ``tests/test_bpe.py``):

* Words are the engine's kept tokens (single-space split, lowercased);
  each word is a symbol sequence of its characters plus a terminal
  ``</w>`` marker (the paper's end-of-word symbol).
* Each round merges the pair with the highest summed word-frequency
  count; ties break lexicographically on the pair (deterministic —
  the paper leaves ties arbitrary). Rounds stop at ``n_merges`` or when
  no pair occurs in two or more positions.

Encoding applies merges greedily by learned rank (lowest-rank pair
first, all its occurrences at once) — the standard GPT-2-style
``bpe()`` loop. Unknown characters pass through as single symbols.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_hadoop_spark.functions.text import kept_tokens

__all__ = ["BPEModel", "bpe_train", "bpe_encode", "bpe_apply_word"]

EOW = "</w>"


@dataclass(frozen=True)
class BPEModel:
    """Learned merge table: ``merges[i]`` is the pair merged at rank i."""

    merges: tuple[tuple[str, str], ...]

    @property
    def ranks(self) -> dict[tuple[str, str], int]:
        return {pair: i for i, pair in enumerate(self.merges)}


def _learn_merges(
    word_counts: list[tuple[str, int]], n_merges: int
) -> tuple[tuple[str, str], ...]:
    """Classic BPE merge learning over a bounded word-frequency table."""
    seqs: list[tuple[list[str], int]] = [
        (list(w) + [EOW], c) for w, c in word_counts if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, c in seqs:
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        # highest count, then lexicographically smallest pair
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        ab = a + b
        for sym, _c in seqs:
            i = 0
            while i < len(sym) - 1:
                if sym[i] == a and sym[i + 1] == b:
                    sym[i : i + 2] = [ab]
                else:
                    i += 1
    return tuple(merges)


def bpe_apply_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word: repeatedly merge the lowest-rank adjacent pair."""
    sym = list(word) + [EOW]
    while len(sym) > 1:
        pairs = [(ranks.get((a, b)), i) for i, (a, b) in enumerate(zip(sym, sym[1:]))]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        best_rank = min(r for r, _ in ranked)
        # merge ALL occurrences of the best-rank pair, left to right
        i = 0
        out: list[str] = []
        while i < len(sym):
            if (
                i < len(sym) - 1
                and ranks.get((sym[i], sym[i + 1])) == best_rank
            ):
                out.append(sym[i] + sym[i + 1])
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_train(
    docs: DataFrame,
    n_merges: int = 1000,
    max_words: int = 100_000,
    text_col: str = "text",
) -> BPEModel:
    """Learn ``n_merges`` merge rules from the corpus (see module
    docstring for the distributed/driver split). The one action here is
    the bounded top-``max_words`` vocabulary collect."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    toks = kept_tokens(text_col)
    vocab = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_words)
        .collect()
    )
    return BPEModel(
        merges=_learn_merges([(r["w"], r["c"]) for r in vocab], n_merges)
    )


ENCODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), True),
        T.StructField("n_pieces", T.LongType(), True),
        T.StructField("pieces", T.ArrayType(T.StringType()), True),
    ]
)


def bpe_encode(
    docs: DataFrame,
    model: BPEModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, n_tokens, n_pieces, pieces)`` per document.

    Arrow-batched; per-batch memo over distinct tokens, so the merge
    loop runs once per distinct token per batch, not once per
    occurrence. Empty documents encode to zero counts and an empty
    piece array."""
    import pandas as pd

    ranks = model.ranks

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def enc(tok: str) -> list[str]:
            got = memo.get(tok)
            if got is None:
                got = memo[tok] = bpe_apply_word(tok, ranks)
            return got

        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in (text or "").lower().split(" ") if t]
                pieces: list[str] = []
                for t in toks:
                    pieces.extend(enc(t))
                rows.append((did, len(toks), len(pieces), pieces))
            yield pd.DataFrame(rows, columns=[f.name for f in ENCODE_SCHEMA])

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _encode, schema=ENCODE_SCHEMA
    )


# Self-contained executor serialization: the Arrow-batched closures above
# reference module-level helpers/schemas, which cloudpickle would
# otherwise serialize BY REFERENCE (executor Python workers then need
# this package importable — true only when the driver launches from the
# repo root). Registering the module for by-value pickling makes the
# closures carry their own code, so a plain spark-submit from anywhere
# (the verification harness's fresh-session drive) runs without shipping
# the package to workers. Imported third-party refs (pandas, numpy,
# pyspark) still serialize by reference as usual.
import sys as _sys

try:  # pragma: no cover - vendored cloudpickle without the API
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except (ImportError, AttributeError):
    pass
