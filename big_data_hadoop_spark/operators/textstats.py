"""Text analysis operators over ``documents`` (LLM-pipeline surface).

All native expressions (no UDFs): token counting, quality scoring,
stopword-based language ID, and canonical fingerprinting. Ratios are exact
integer divisions in DOUBLE and score formulas use a fixed term order, so
the DuckDB oracle matches bit-for-bit without rounding.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote
from big_data_hadoop_spark.functions.text import kept_tokens
from big_data_hadoop_spark.operators.dedup import _overlap_pairs
from big_data_hadoop_spark.operators.substring import _kgram_hashes
from big_data_hadoop_spark.operators.tokenize import tokenized

#: BPE-ish subword-run pattern (GPT-2-style approximation): a token is an
#: optionally space-prefixed letter run, digit run, or punctuation run.
#: The whitespace exclusion is an EXPLICIT class, not ``\s``: Java's
#: ``\s`` includes ``\x0b`` (vertical tab) while RE2's does not, so the
#: shorthand counts differently across engines on a ``\x0b`` input
#: (hypothesis-found). The explicit class spells out exactly Java's
#: ``\s`` membership, so Spark results are unchanged and the DuckDB
#: oracle (same class) now counts identically.
BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\x0b\f\r]+"

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and hard-coded: the heuristic must be
#: reproducible in ANSI SQL for the oracle.
STOPWORDS = {
    "en": ["the", "a", "of", "in", "and", "is", "to"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "es": ["el", "los", "y", "un", "una", "que"],
}


def _toks(text_col: str) -> str:
    """SQL text: the lowercased single-space split of ``text_col``,
    empty tokens kept (``functions.text.split_tokens``)."""
    return f"split(lower({_quote(text_col)}), ' ', -1)"


def _stop_count(toks: str, words: list[str]) -> str:
    """SQL text: how many tokens of the array ``toks`` are in ``words``."""
    arr = ", ".join(f"'{w}'" for w in words)
    return f"CAST(size(filter({toks}, t -> array_contains(array({arr}), t))) AS BIGINT)"


def _lang_pred(toks: str) -> str:
    """SQL text: the q25 stopword-vote language CASE over the token
    array ``toks`` (fixed precedence, see :func:`language_id`)."""
    en, de, fr, es = (_stop_count(toks, STOPWORDS[x]) for x in ("en", "de", "fr", "es"))
    return (
        f"CASE WHEN {en} > 0 AND {en} >= greatest({de}, {fr}, {es}) THEN 'en' "
        f"WHEN {de} > 0 AND {de} >= greatest({fr}, {es}) THEN 'de' "
        f"WHEN {fr} > 0 AND {fr} >= {es} THEN 'fr' "
        f"WHEN {es} > 0 THEN 'es' ELSE 'und' END"
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics.

    ``avg_token_len`` uses the identity ``sum(len(tok)) = len(text) -
    (n_tokens - 1)`` for a single-space-joined stream — one pass over the
    string, no second aggregation, and an arithmetic form the oracle
    reproduces exactly.
    """
    t = tokenized(df, text_col=text_col, lowercase=True, keep_cols=(id_col, text_col))
    text = F.col(_quote(text_col))
    n_tokens = F.size("toks").cast("long")
    return t.select(
        F.col(_quote(id_col)),
        n_tokens.alias("n_tokens"),
        F.regexp_count(text, F.lit(BPE_PATTERN)).cast("long").alias("n_bpe_tokens"),
        F.expr("CAST(size(filter(cats, c -> c = 'word')) AS BIGINT)").alias("n_words"),
        F.expr("CAST(size(filter(cats, c -> c = 'number')) AS BIGINT)").alias("n_numbers"),
        ((F.length(text) - n_tokens + 1).cast("double") / n_tokens).alias(
            "avg_token_len"
        ),
    )


def quality_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality signals: alphabetic-character ratio, stopword
    ratio, and a fixed linear score. Term order in the score is part of the
    contract (bit-exact oracle comparison)."""
    text, toks = _quote(text_col), _toks(text_col)
    alpha_ratio = (
        f"CAST(CAST(length(regexp_replace(lower({text}), '[^a-z]', '')) "
        f"AS BIGINT) AS DOUBLE) / greatest(CAST(length({text}) AS BIGINT), "
        "CAST(1 AS BIGINT))"
    )
    stop_ratio = (
        f"CAST({_stop_count(toks, STOPWORDS['en'])} AS DOUBLE) / "
        f"greatest(CAST(size({toks}) AS BIGINT), CAST(1 AS BIGINT))"
    )
    return df.selectExpr(
        _quote(id_col),
        f"{alpha_ratio} AS alpha_ratio",
        f"{stop_ratio} AS stop_ratio",
        f"0.5D * ({alpha_ratio}) + 0.5D * ({stop_ratio}) AS quality_score",
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID: ``(id_col, pred_lang)``.

    Argmax over per-language stopword hit counts with a fixed precedence
    (en > de > fr > es) and ``'und'`` when no list scores — a deterministic
    CASE expression, reproduced verbatim in the oracle SQL.
    """
    return df.selectExpr(
        _quote(id_col), f"{_lang_pred(_toks(text_col))} AS pred_lang"
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set (the classic key-collision fingerprint). Word-order- and
    duplication-insensitive; the digest shuffles instead of the text."""
    fp = f"md5(concat_ws(' ', array_sort(array_distinct({_toks(text_col)}))))"
    return df.selectExpr(_quote(id_col), f"{fp} AS fp")


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.,
    SIGMOD'03 — the MOSS algorithm, public): hash every character k-gram
    of the lowercased text, slide a window of ``w`` hashes, keep each
    window's minimum; the distinct selected hashes are the document's
    fingerprints, robust to local edits and whitespace shifts.

    All native expressions: k-grams are direct ``substring`` slices over
    an index sequence (one O(k) copy per position — a char-array
    concat-fold formulation measured ~4x slower), window minima come from
    ``w - 1`` shifted-``least`` zip_with folds over the hash array
    (``least`` ignores the null padding; the trailing ``w - 1`` partial
    windows are sliced off to match the reference algorithm's full-window
    selection). Output: ``(id_col, fp)`` exploded, distinct per document.
    """
    # Stage the lowered text as a materialized column FIRST: an
    # expression captured inside a HOF lambda is re-evaluated per element
    # (see dedup.minhash_signatures), so substring over a raw
    # ``lower(text)`` subtree would re-lower the whole string at every
    # position — O(n^2) per document. An attribute reference is O(1).
    key = _quote(id_col)
    staged = df.selectExpr(key, f"lower({_quote(text_col)}) AS _lt")
    # Stage the hash array as a column as well: the minima fold below
    # references it w + 1 times (fold base, each shifted slice, the final
    # size), and every reference to a non-attribute subtree re-runs the
    # whole k-gram hashing pass. A text shorter than k has no hash array,
    # and so no fingerprint.
    hashed = staged.selectExpr(key, f"{_kgram_hashes('_lt', k)} AS _hs")
    mins = "_hs"
    for d in range(1, w):
        mins = (
            f"zip_with({mins}, slice(_hs, {d + 1}, greatest(size(_hs) - {d}, 0)), "
            "(x, y) -> least(x, y))"
        )
    full = f"slice({mins}, 1, greatest(size(_hs) - {w} + 1, 0))"
    return hashed.selectExpr(key, f"explode(array_distinct({full})) AS fp")


def winnow_neardup_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate document pairs from winnowed fingerprints (VERDICT
    r3 #4 — completes the MOSS use case: SimHash has its Hamming-pair
    operator, MinHash its LSH join; this is the winnowing family's pair
    operator).

    ``(id_a, id_b, n_shared, overlap_ratio)`` with ``id_a < id_b`` and
    ``overlap_ratio >= threshold``, where ``n_shared`` counts shared
    distinct fingerprints and ``overlap_ratio = n_shared /
    min(|fp_a|, |fp_b|)`` — MOSS reports containment of the smaller
    document, so a file pasted whole into a larger one still scores 1.0.

    Plan shape: the inverted-index overlap join of
    ``dedup.ngram_jaccard_pairs`` (``dedup._overlap_pairs``: an
    equi-join on the fingerprint value, never all-pairs, a pair-count
    aggregation and two size joins), scored by containment. Skew
    valve for corpus scale: ``max_doc_freq`` drops fingerprints appearing
    in more than that many documents before the self-join (boilerplate
    headers/footers are exactly the hashes whose posting lists explode
    the join; dropping them can only lower recall for pairs whose whole
    overlap is boilerplate). The set sizes still count every
    fingerprint. Default keeps every fingerprint — exact.
    """
    fps = winnow_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
    # Pin ONE hash-exchange on fp that every consumer shares: without it
    # Catalyst recomputes the (expensive) per-character rolling-hash
    # lineage once per appearance — join left, join right (a broadcast at
    # small scale, so no exchange reuse), and each size aggregate — 4x
    # the hashing work (measured 14.6s -> 8.9s at sf0.1). Both self-join
    # sides and the downstream aggregates now hang off the identical
    # exchange subtree, which Spark executes once (ReusedExchange), and
    # shuffling by fp is the 100 TB-correct join layout anyway.
    fps = fps.repartition("fp")
    idx = fps
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.expr("count(*) AS _df"))
            .where(f"_df > {int(max_doc_freq)}")
            .select("fp")
        )
        idx = fps.join(hot, "fp", "left_anti")
    # winnow_fingerprints is distinct per document, so the sizes are the
    # |fp set|s
    return (
        _overlap_pairs(fps, id_col, "fp", index=idx)
        .selectExpr(
            "id_a", "id_b", "n_shared",
            "CAST(n_shared AS DOUBLE) / least(sz_a, sz_b) AS overlap_ratio",
        )
        .where(F.col("overlap_ratio") >= threshold)
    )


def hashed_linear_scores(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "score",
) -> DataFrame:
    """fastText-style linear quality scorer over hashed bag-of-tokens
    features: ``sigmoid(mean_token_weight + bias)``.

    The classic shape of the public fastText supervised classifier
    (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    Classification") serving a binary quality head: each token maps to a
    bucket by the hashing trick (``xxhash64(token) mod dim``, ``dim =
    len(weights)``), the document representation is the MEAN of its
    tokens' bucket weights, and the score is the sigmoid of the affine
    output. Training happens elsewhere (any fastText-style trainer whose
    vocabulary is hashed into ``dim`` buckets); this operator is the
    batch scoring pass curation pipelines run over every document — the
    engine ships the distributed half, the learned weights are an input.

    Tokens are the engine's kept-token contract (``functions.text.
    kept_tokens``: single-space split, lowercased, empties dropped —
    shared with BM25/the bigram LM/BPE; NOTE ``quality_scores`` counts
    raw positions, empties included, so its denominators differ).
    Empty documents score ``sigmoid(bias)``.

    Scale shape: the weight vector rides in on a broadcast single-row
    cross join (one array column, never shuffled, shared JVM-side by
    every task), and scoring is one narrow fold per row — no explode, no
    join on tokens, no shuffle of any kind. A 100 TB corpus scores in
    exactly one scan. ``dim`` up to a few hundred thousand doubles is a
    few MB of broadcast — the standard hashing-trick budget.
    """
    from big_data_hadoop_spark.sources.io import local_frame

    if not weights:
        raise ValueError("weights must be non-empty")
    dim = len(weights)
    spark = df.sparkSession
    wdf = local_frame(
        spark, [([float(x) for x in weights],)], "_w array<double>"
    )
    staged = df.join(F.broadcast(wdf)).select(
        F.col(_quote(id_col)),
        kept_tokens(text_col).alias("_tk"),
        F.col("_w"),
    )
    z = _hashed_mean_margin(dim) + F.lit(float(bias))
    return staged.select(
        F.col(_quote(id_col)),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(out_col),
    )


def _hashed_bucket(t: str, dim: int) -> str:
    """SQL text: the 1-based hashing-trick bucket of token ``t``
    (``element_at`` indexing). SHARED by scoring and training — the
    model is only valid if both hash identically, so there is exactly
    one definition (review finding: a copy in each function could
    silently desynchronize)."""
    return f"CAST(pmod(xxhash64({t}), {int(dim)}) + 1 AS INT)"


def _hashed_mean_margin(dim: int) -> Column:
    """Mean of the ``_tk`` tokens' bucket weights in ``_w`` (empty docs
    → 0) — the linear margin both :func:`hashed_linear_scores` and
    :func:`train_hashed_linear` compute, defined once for the same
    reason as :func:`_hashed_bucket`."""
    return F.expr(
        f"aggregate(_tk, 0.0D, (acc, t) -> acc + element_at(_w, "
        f"{_hashed_bucket('t', dim)})) / CAST(greatest(size(_tk), 1) AS DOUBLE)"
    )


class HashedLinearModel(NamedTuple):
    """A trained hashed-linear quality head: the weight vector (length =
    hash dimension) plus bias, exactly the inputs
    :func:`hashed_linear_scores` takes — train → score with no format
    conversion in between."""

    weights: list[float]
    bias: float


#: Widest trainable hashed-feature space: the gradient collect is
#: dim+1 driver rows per epoch and the weights broadcast dim doubles,
#: so the budget keeps "O(dim) driver state" honest (~34 MB at the cap).
_MAX_TRAIN_DIM = 1 << 22


def train_hashed_linear(
    df: DataFrame,
    label_col: str = "label",
    dim: int = 1 << 12,
    text_col: str = "text",
    epochs: int = 30,
    lr: float = 1.0,
    l2: float = 0.0,
) -> HashedLinearModel:
    """Distributed training for the :func:`hashed_linear_scores` quality
    head: full-batch gradient descent on logistic loss over the SAME
    featurization the scorer uses (hashing trick, mean of per-token
    bucket weights — Joulin et al. 2016's supervised fastText shape, a
    public paper), so the learned ``(weights, bias)`` plug straight
    into the scorer. ``label_col`` holds 0/1 quality labels (e.g. from
    a human-rated or heuristic-gated sample).

    Per epoch, ONE distributed pass, no UDFs anywhere:

    1. the current weights ride in on a broadcast single-row array
       (same plan shape as the scorer — never shuffled);
    2. each doc's margin/error is a narrow ``aggregate`` fold over its
       tokens (whole-stage codegen);
    3. gradients come back as ONE hash-keyed aggregation: every token
       contributes ``error/n_tokens`` to its bucket, plus a sentinel
       bucket ``-1`` carrying the bias gradient — map-side partial
       aggregation collapses the explode to ≤ ``dim + 1`` rows per
       task, so the shuffle carries the GRADIENT, not the corpus.

    Driver state is the weight vector itself — O(dim) doubles, the
    same bounded-state contract as BPE's vocab and KMeans' centroids;
    the corpus never leaves the executors. At 100 TB the cost is
    ``epochs`` scans of the tokenized frame (checkpointed once here;
    cache/persist it on a real cluster).

    ``l2`` adds ridge shrinkage (applied to every bucket each epoch,
    not just touched ones). Gradients are exact full-batch, so given
    the same data, epochs, and lr the result is reproducible up to
    float summation order — pinned against a numpy replication in
    tests.

    ``dim`` is capped at ``2**22`` (~4.2M buckets): the per-epoch
    gradient collect is ≤ ``dim + 1`` driver rows, and the broadcast
    weight array is ``dim`` doubles — fine at the default ``2**12``,
    but a 2**24 request would quietly turn "O(dim) driver state" into
    a ~16M-row collect per epoch. Past the cap, refuse loudly (the
    same budget pattern as the Bloom dedup's 2**30-bit cap): shrink
    ``dim`` (hash collisions degrade gracefully — the point of the
    hashing trick), or train with a parameter-server-style framework
    built for models that exceed driver memory.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if dim > _MAX_TRAIN_DIM:
        raise ValueError(
            f"dim={dim} exceeds the 2**22 training budget — the "
            "gradient aggregation collects dim+1 rows to the driver "
            "and broadcasts dim doubles back per epoch. Use a smaller "
            "dim (hashing-trick collisions degrade quality gracefully) "
            "or a parameter-server trainer for models this wide."
        )
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    from big_data_hadoop_spark.sources.io import local_frame

    spark = df.sparkSession
    staged = (
        df.select(
            kept_tokens(text_col).alias("_tk"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .withColumn(
            "_n", F.greatest(F.size("_tk"), F.lit(1)).cast("double")
        )
        .localCheckpoint(eager=True)
    )
    n_docs = staged.count()
    if n_docs == 0:
        raise ValueError("cannot train on an empty frame")

    w = [0.0] * dim
    b = 0.0
    for _ in range(epochs):
        wdf = local_frame(
            spark, [([float(x) for x in w],)], "_w array<double>"
        )
        z = _hashed_mean_margin(dim) + F.lit(float(b))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = staged.join(F.broadcast(wdf)).select(
            "_tk", "_n", (p - F.col("_y")).alias("_e")
        )
        # tokens contribute error/n to their bucket; sentinel -1 is the
        # bias gradient — one explode, one hash aggregation, one job
        contrib = F.expr(
            f"concat(transform(_tk, t -> named_struct('k', "
            f"{_hashed_bucket('t', dim)} - 1, 'v', _e / _n)), "
            "array(named_struct('k', -1, 'v', _e)))"
        )
        grads = {
            r.k: r.g
            for r in err.select(F.explode(contrib).alias("c"))
            .groupBy(F.col("c.k").alias("k"))
            .agg(F.sum("c.v").alias("g"))
            .collect()
        }
        gb = grads.pop(-1, 0.0) / n_docs
        if l2:
            w = [wi - lr * l2 * wi for wi in w]
        for k, g in grads.items():
            w[k] -= lr * g / n_docs
        b -= lr * gb
    return HashedLinearModel(weights=w, bias=b)


def hashed_linear_save(model: HashedLinearModel, path: str) -> None:
    """Persist a trained model as a one-row parquet ``(weights, bias)``
    — same nothing-lives-only-in-driver-memory contract as
    ``similarity.ivf_save``: a separate serving job reloads and scores
    without retraining."""
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    from big_data_hadoop_spark.sources.io import local_frame

    local_frame(
        spark,
        [([float(x) for x in model.weights], float(model.bias))],
        "weights array<double>, bias double",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def hashed_linear_load(spark, path: str) -> HashedLinearModel:
    """Reload an :func:`hashed_linear_save`-persisted model."""
    row = spark.read.parquet(path).collect()[0]
    return HashedLinearModel(
        weights=[float(x) for x in row.weights], bias=float(row.bias)
    )
