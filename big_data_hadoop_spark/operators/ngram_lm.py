"""N-gram language-model perplexity scoring (the CCNet quality-filter
family).

Implements the document-scoring step open curation stacks run between
heuristic gates and dedup: train a small n-gram language model on a
trusted reference corpus, score every candidate document by perplexity,
and keep the best slice (CCNet — Wenzek et al. 2019, "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data" — scores Common
Crawl against a Wikipedia-trained KenLM 5-gram model and keeps the best
perplexity tercile). The reference repo has no analog (its surface is
the six word-count programs, ``HadoopWordCount.java:37-132`` etc.); this
extends the engine's LLM-curation tier alongside
``textstats.quality_scores`` (heuristic gates) and
``textstats.hashed_linear_scores`` (fastText-style learned head).

Exact semantics (a fixed contract, replicated token-for-token by the
pure-Python oracle in ``tests/test_ngram_lm.py``):

* Tokens are the engine's single-space split (``functions.text.
  split_tokens``), lowercased, empties dropped (an LM has no use for the
  reference's position-preserving empties — adjacency here is between
  *kept* tokens, documented divergence from the pairs operators).
* Bigram events of a document are its consecutive kept-token pairs
  ``(t[i], t[i+1])``; a document with fewer than 2 kept tokens has no
  events and scores NULL.
* The model interpolates a maximum-likelihood bigram with an add-one
  unigram (Jelinek-Mercer with add-one backoff — the standard
  public-textbook smoothing; KenLM's Kneser-Ney needs per-history
  discount tables that would add nothing to the Spark shape):

      P(w2 | w1) = lam * c(w1 w2) / c(w1)
                 + (1 - lam) * (c(w2) + 1) / (N + V)

  with ``c`` counts in the reference corpus, ``N`` total reference
  tokens, ``V`` distinct reference tokens. Out-of-vocabulary ``w1``
  zeroes the first term (``c(w1 w2)`` is necessarily 0 too); OOV ``w2``
  still gets add-one mass, so ``P > 0`` always and the log never
  diverges.
* ``avg_nll`` = mean over the document's bigram events of ``-ln P``;
  ``ppl`` = ``exp(avg_nll)`` (natural-log perplexity — a fixed
  monotone transform of the base-2/base-10 variants, so filter
  fractions are unaffected).

Scale shape (100 TB posture): training is the engine's word-count
skeleton — one narrow pass building token arrays, one explode +
partial-aggregated ``groupBy`` per order (unigrams, bigrams). The model
IS a pair of count DataFrames plus a one-row totals frame; nothing is
collected to the driver and nothing is fit iteratively. Scoring is two
equi-joins against the count tables (AQE broadcasts them when the
reference corpus is small; at web scale they shuffle-join on token keys
— exactly the join Spark is built for) plus one final per-document
aggregation. The totals frame joins in via ``broadcast`` crossJoin (one
row). ``ppl_filter`` derives its cutoff with ``percentile_approx``
(Greenwald-Khanna: fixed-size mergeable state, no sort) and applies it
with a broadcast one-row join — the whole funnel stays lazy; no
driver-side action is hidden inside plan construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote
from big_data_hadoop_spark.functions.text import kept_tokens

__all__ = ["NGramLM", "ngram_lm_train", "ngram_lm_score", "ppl_filter"]


def _bigram_events(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """One row per bigram event ``(id, *keep, w1, w2)``, occurrences
    preserved (``keep`` carries pass-through columns — the streaming
    twin rides its event-time column through here).

    Built entirely from array expressions (two shifted ``slice`` views
    zipped) — a narrow per-row transform; the only shuffles downstream
    are the count joins/aggregations themselves.
    """
    toks = kept_tokens(text_col)
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, F.lit(1), n_pairs).alias("w1"),
        F.slice(toks, F.lit(2), n_pairs).alias("w2"),
    )
    cols = [F.col(_quote(c)) for c in (id_col, *keep)]
    return df.select(*cols, F.explode(pairs).alias("bg")).select(
        *cols, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )


@dataclass(frozen=True)
class NGramLM:
    """A trained bigram LM: count tables, not parameters.

    ``unigrams``: ``(token, c1: long)``; ``bigrams``: ``(w1, w2, c2:
    long)``; ``totals``: one row ``(n_tokens: long, vocab: long)``.
    All three are lazy DataFrames — persist them with
    ``sources.io``/parquet for fit-once serve-many reuse, exactly like
    ``similarity.IVFIndex``.
    """

    unigrams: DataFrame
    bigrams: DataFrame
    totals: DataFrame


def ngram_lm_train(
    ref_docs: DataFrame, text_col: str = "text"
) -> NGramLM:
    """Count unigrams and bigrams of the reference corpus.

    The word-count skeleton twice: explode → ``groupBy`` with automatic
    map-side partial aggregation (``operators.counts`` doc). The totals
    frame is a single global aggregate over the unigram table (one row).
    """
    toks = ref_docs.select(
        F.explode(kept_tokens(text_col)).alias("token")
    )
    unigrams = toks.groupBy("token").agg(F.count("*").alias("c1"))
    bigrams = (
        _bigram_events(ref_docs.select(F.lit(0).alias("_d"), text_col), "_d", text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    # coalesce: SUM over an EMPTY reference corpus is NULL, which would
    # poison p_uni into NULL for every scored document (breaking the
    # documented P > 0 floor — review finding); with 0 the add-one term
    # degrades to (c+1)/vocab-free 1.0, keeping scores finite.
    totals = unigrams.agg(
        F.coalesce(F.sum("c1"), F.lit(0).cast("long")).alias("n_tokens"),
        F.count("*").alias("vocab"),
    )
    return NGramLM(unigrams=unigrams, bigrams=bigrams, totals=totals)


def ngram_lm_score(
    docs: DataFrame,
    lm: NGramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
) -> DataFrame:
    """Per-document ``(id, n_bigrams, avg_nll, ppl)`` under ``lm``.

    Every document in ``docs`` appears exactly once; documents with no
    bigram events (fewer than 2 kept tokens) carry NULL ``avg_nll`` /
    ``ppl`` and ``n_bigrams = 0`` — they are unfilterable by perplexity
    and the caller decides their fate (CCNet drops them).
    """
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    ev = _bigram_events(docs, id_col, text_col)
    uni1 = lm.unigrams.select(
        F.col("token").alias("w1"), F.col("c1").alias("c_w1")
    )
    uni2 = lm.unigrams.select(
        F.col("token").alias("w2"), F.col("c1").alias("c_w2")
    )
    scored = (
        ev.join(lm.bigrams, ["w1", "w2"], "left")
        .join(uni1, "w1", "left")
        .join(uni2, "w2", "left")
        .join(F.broadcast(lm.totals))
    )
    # Term order pinned left-to-right so the Python oracle reproduces the
    # doubles bit-for-bit (same discipline as similarity's cosine).
    p_ml = F.when(
        F.col("c_w1").isNotNull() & F.col("c2").isNotNull(),
        F.col("c2").cast("double") / F.col("c_w1").cast("double"),
    ).otherwise(F.lit(0.0))
    # greatest(..., 1): an EMPTY reference corpus has N = V = 0; the
    # floor keeps p_uni = 1 there (every token equally unsurprising)
    # instead of NULL/div-by-zero, preserving the documented P > 0
    # invariant (review finding). No-op whenever the reference has data.
    p_uni = (F.coalesce(F.col("c_w2"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.greatest(
            F.col("n_tokens").cast("double") + F.col("vocab").cast("double"),
            F.lit(1.0),
        )
    )
    nll = -F.log(F.lit(float(lam)) * p_ml + F.lit(1.0 - float(lam)) * p_uni)
    # the mean sums in ascending order, not by F.avg: after three shuffle
    # joins a document's rows arrive in a different order from run to
    # run, and so did the last bit of the mean
    key = F.col(_quote(id_col))
    per_doc = scored.select(key, nll.alias("_nll")).groupBy(key).agg(
        F.count("*").alias("n_bigrams"),
        F.expr(
            "aggregate(array_sort(collect_list(_nll)), 0.0D, "
            "(acc, x) -> acc + x) / nullif(count(_nll), 0)"
        ).alias("avg_nll"),
    )
    return (
        docs.select(key)
        .join(per_doc, id_col, "left")
        .select(
            key,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_nll",
            F.exp("avg_nll").alias("ppl"),
        )
    )


def ppl_filter(
    docs: DataFrame,
    lm: NGramLM,
    keep_frac: float = 1.0 / 3.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep the best-perplexity ``keep_frac`` of ``docs`` (CCNet's
    "head" slice; its tercile split is ``keep_frac=1/3``).

    The cutoff is the ``keep_frac`` quantile of scored perplexities
    (``percentile_approx``; rank error ``n / accuracy``), joined back as
    a broadcast one-row frame — documents with NULL ``ppl`` (no bigram
    events) are dropped, matching CCNet. Lazy end-to-end: the quantile
    rides the caller's action. Scoring the corpus twice is avoided by
    filtering the already-scored frame and semi-joining survivors."""
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    scored = ngram_lm_score(docs, lm, id_col=id_col, text_col=text_col, lam=lam)
    cutoff = scored.filter(F.col("ppl").isNotNull()).agg(
        F.percentile_approx("ppl", float(keep_frac), accuracy).alias("_cut")
    )
    keep = (
        scored.join(F.broadcast(cutoff))
        .filter(F.col("ppl").isNotNull() & (F.col("ppl") <= F.col("_cut")))
        .select(F.col(_quote(id_col)), "n_bigrams", "avg_nll", "ppl")
    )
    return docs.join(keep, id_col, "inner")
