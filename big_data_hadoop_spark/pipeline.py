"""End-to-end training-data curation pipeline (LLM-pipeline surface).

Composes the engine's text-analysis and dedup operators into the
standard corpus-preparation funnel:

    quality gate -> language gate -> exact dedup -> (optional) near-dedup

All gate expressions are the SAME expressions the individual probes use
(q24 quality, q25 language-ID, q17 exact dedup), so the composed
pipeline is ANSI-SQL-reproducible and is verified against a DuckDB
oracle in ``tests/test_pipeline.py``. The optional MinHash-LSH
near-dedup stage is xxhash64-based (not SQL-expressible) and is
verified by subset/consistency properties instead.

Scale shape: the two gates fuse into one scan-side filter (no joins,
no shuffle); exact dedup shuffles 16-byte md5 digests (never document
bodies); the near-dup stage is the bucketed LSH join. Nothing in the
funnel materializes the corpus more than the dedup semi-join requires.

Downstream trainer-prep also lives here: deterministic hash sampling and
corpus mixing, the token-budget sampler and sequence packing (both on
one shared distributed prefix sum — no global sort), pack
materialization (``materialize_packs`` — the trainer-facing payload),
document chunking, and PII redaction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_hadoop_spark.functions.rank import _quote, top_k_per
from big_data_hadoop_spark.functions.text import split_tokens
from big_data_hadoop_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from big_data_hadoop_spark.operators.textstats import _lang_pred, _toks


def curation_gate(
    text_col: str = "text",
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    max_dup_line_frac: float | None = None,
) -> Column:
    """The fused quality+language gate PREDICATE (q24/q25 expressions):
    a stateless boolean column, shared verbatim by the batch funnel and
    the streaming twin (``streaming.streaming_curate``) so both paths
    admit exactly the same documents. ``max_dup_line_frac`` adds the
    Gopher-style repetition gate (q60's ``dup_line_frac`` — also
    per-row, so it fuses into the same scan filter and streams as-is)."""
    text = F.col(_quote(text_col))
    toks = _toks(text_col)
    n_tokens = F.expr(f"CAST(size({toks}) AS BIGINT)")
    alpha = F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")).cast("long")
    alpha_ratio = alpha.cast("double") / F.greatest(
        F.length(text).cast("long"), F.lit(1).cast("long")
    )
    gate = (
        (n_tokens >= F.lit(min_tokens))
        & (alpha_ratio >= F.lit(min_alpha_ratio))
        & F.expr(_lang_pred(toks)).isin(list(langs))
    )
    if max_dup_line_frac is not None:
        from big_data_hadoop_spark.operators.repetition import dup_line_frac_col

        gate = gate & (dup_line_frac_col(text_col) <= F.lit(max_dup_line_frac))
    return gate


def curate_training_data(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    neardup_threshold: float | None = None,
    neardup_mode: str = "pairwise",
    max_dup_line_frac: float | None = None,
    strip_dup_spans_k: int | None = None,
) -> DataFrame:
    """Curated corpus: rows of ``docs`` (original schema) that pass every
    stage.

    - duplicated-span removal (only when ``strip_dup_spans_k`` is set):
      corpus-global exact substring dedup FIRST — excising repeated
      regions (``substring.remove_duplicate_spans`` at that window
      length) changes the text every later gate and digest sees, so it
      must precede them. The one stage here that shuffles before the
      gates (its window-hash pass), hence opt-in;
    - quality gate: ``>= min_tokens`` whitespace tokens AND alphabetic
      character ratio ``>= min_alpha_ratio`` (q24 expressions);
    - repetition gate (only when ``max_dup_line_frac`` is set): q60's
      Gopher-style duplicate-line fraction at most the threshold —
      per-row, fused into the same scan filter;
    - language gate: q25 stopword-vote prediction in ``langs``;
    - exact dedup: keep-first on the md5 of normalized text (q17);
    - near-dedup (only when ``neardup_threshold`` is set): MinHash-LSH
      pairs at that Jaccard threshold, resolved per ``neardup_mode``:
      ``"pairwise"`` (default) drops the HIGHER id of each verified pair
      — lazy, one anti-join, but over-deletes on chains ((1,2),(2,3)
      drops both 2 and 3); ``"cluster"`` resolves the pair graph into
      connected components (``dedup.duplicate_clusters``) and keeps the
      minimum id per component — exact keep-one semantics, at the cost
      of resolving the components (a driver union-find for small pair
      graphs, iterative small-star/large-star rounds for large ones;
      runs Spark jobs when called).

    The gates are one fused filter over the scan; their predicates are
    deliberately identical to the standalone probes so the whole funnel
    (minus the hash-based near-dup stage) has an exact DuckDB oracle.
    """
    if strip_dup_spans_k is not None:
        from big_data_hadoop_spark.operators.substring import (
            remove_duplicate_spans,
        )

        docs = remove_duplicate_spans(
            docs, k=strip_dup_spans_k, text_col=text_col, id_col=id_col
        )
    gated = docs.filter(
        curation_gate(
            text_col, min_tokens, min_alpha_ratio, langs,
            max_dup_line_frac=max_dup_line_frac,
        )
    )
    deduped = exact_dedup(gated, text_col=text_col, id_col=id_col)
    if neardup_threshold is None:
        return deduped
    pairs = minhash_lsh_pairs(
        deduped, threshold=neardup_threshold, text_col=text_col, id_col=id_col
    )
    if neardup_mode == "cluster":
        from big_data_hadoop_spark.operators.dedup import dedup_by_clusters

        return dedup_by_clusters(deduped, pairs, id_col=id_col)
    if neardup_mode != "pairwise":
        raise ValueError(f"unknown neardup_mode {neardup_mode!r}")
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return deduped.join(drop, id_col, "left_anti")


def sample_fraction(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic hash-Bernoulli sample: keep a row iff
    ``pmod(xxhash64(id, seed), 1e6) < fraction * 1e6``. Unlike
    ``DataFrame.sample`` the kept set depends only on (id, seed) — the
    same rows survive across runs, partitionings, and cluster layouts,
    and different ``seed`` values give independent samples (the property
    train/validation splits need)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    den = 1_000_000
    cut = int(fraction * den)
    h = F.xxhash64(F.col(_quote(id_col)), F.lit(seed))
    return df.filter(F.pmod(h, F.lit(den)) < cut)


def mix_corpora(
    sources: list[tuple[str, DataFrame, float]],
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 0,
) -> DataFrame:
    """Weighted corpus mixture: each ``(name, df, fraction)`` source is
    deterministically downsampled (``sample_fraction``) and the samples
    are unioned with a ``source_col`` provenance tag — the standard
    mixture-weights step of training-data assembly (e.g. 100% curated
    web + 30% of a code corpus).

    Per-source seeds derive from ``seed`` and the source NAME, so adding
    or reordering sources never changes which rows another source keeps.
    A narrow filter per source plus a union — no shuffle, no driver data.
    """
    if not sources:
        raise ValueError("mix_corpora needs at least one source")
    parts = []
    for name, df, fraction in sources:
        tagged = sample_fraction(
            df,
            fraction,
            id_col=id_col,
            seed=seed ^ (hash_name(name) & 0x7FFFFFFF),
        ).withColumn(source_col, F.lit(name))
        parts.append(tagged)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hash_name(name: str) -> int:
    """Stable (non-process-salted) string hash for seed derivation."""
    import zlib

    return zlib.crc32(name.encode("utf-8"))


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into token-window chunks: ``(id_col,
    chunk_no, chunk_text, n_chunk_tokens)`` — the standard long-document
    preparation step (context-length packing, embedding inputs).

    Chunk ``k`` covers tokens ``[k*stride, k*stride + max_tokens)`` of
    the whitespace token stream, ``stride = max_tokens - overlap``; the
    last chunk may be short; a document shorter than ``max_tokens``
    yields exactly one chunk. Empty-token positions count (the engine's
    position-preserving tokenization), so chunk boundaries are stable
    under the same contract as pairs/stripes.

    Pure narrow ops — ``sequence`` over chunk starts, ``posexplode``,
    ``slice`` + ``concat_ws`` — no shuffle, no UDF; fans out rows like
    any explode, so downstream aggregations see one row per chunk.
    ANSI-SQL-expressible (DuckDB oracle in ``tests/test_pipeline.py``).
    """
    if not (0 <= overlap < max_tokens):
        # negative overlap would widen the stride and silently SKIP the
        # tokens between chunks (review finding)
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}"
        )
    stride = max_tokens - overlap
    key = _quote(id_col)
    toks = split_tokens(F.col(_quote(text_col)), lowercase=False)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * F.lit(stride), F.lit(stride))
    exploded = docs.select(
        F.col(key), toks.alias("_toks"), F.posexplode(starts)
    ).select(
        F.col(key),
        F.col("pos").cast("long").alias("chunk_no"),
        F.slice(F.col("_toks"), F.col("col") + 1, max_tokens).alias("_chunk"),
    )
    return exploded.select(
        F.col(key),
        "chunk_no",
        F.concat_ws(" ", F.col("_chunk")).alias("chunk_text"),
        F.size("_chunk").cast("long").alias("n_chunk_tokens"),
    )


#: Redaction patterns: deliberately explicit character classes portable
#: between Java regex (Spark) and RE2-ish engines (DuckDB) — no \b, no
#: lookarounds, and no shorthand classes whose membership differs by
#: dialect: Java's \s includes vertical tab (\x0b), RE2's does not, so
#: a URL followed by \x0b redacted differently until the class was
#: spelled out (found by tests/test_crossengine_fuzz.py). Order is part
#: of the contract: emails redact before bare domains would otherwise
#: split them.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", "https?://[^ \\t\\n\\x0b\\f\\r]+", "<URL>"),
    ("phone", r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
)


def redact_pii(
    docs: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Replace emails, URLs, and phone-like digit runs with typed
    placeholder tags — the minimum scrub a public-corpus pipeline runs
    before training. A chained ``regexp_replace`` projection: one narrow
    pass, no UDF, no shuffle; patterns are engine-portable and applied
    in ``PII_PATTERNS`` order (DuckDB oracle in
    ``tests/test_pipeline.py``).

    This is pattern-scrubbing, not NER: names/addresses need a model
    pass, which would slot in as a ``mapInPandas`` stage like the
    multimodal decoders."""
    out = F.col(text_col)
    for _name, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return docs.withColumn(out_col or text_col, out)


def sample_to_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic corpus sample of at most ``budget_tokens``
    whitespace tokens: documents are taken in ``(xxhash64(id) mod
    n_buckets, xxhash64(id))`` order (a data-defined pseudorandom
    permutation — independent of partitioning and stable across
    runs/cluster layouts) until the running token total would exceed the
    budget. A document is kept iff the tokens BEFORE it fit the budget,
    so the result can overshoot by at most one document — the standard
    greedy prefix rule.

    Scale shape — a distributed prefix sum, NOT a global sort: a total
    order needs a global cumulative sum, and the naive single window
    (``Window.orderBy(...)`` with no partition) funnels the corpus
    through ONE task. Instead:

    1. each doc hashes to one of ``n_buckets`` ordered buckets;
    2. per-bucket token totals (``n_buckets`` longs) come to the driver
       — the only driver-side data, O(buckets) not O(rows);
    3. each bucket's running offset is attached as a broadcast-joined
       literal table, and a window PARTITIONED BY bucket (bounded state,
       parallel across buckets) adds the within-bucket prefix.

    Hash order means the sample is an unbiased (hash-random) subset, and
    the same budget over the same corpus always picks the same docs.
    """
    pref = _global_token_prefix(docs, text_col, id_col, n_buckets)
    return pref.filter(F.col("_before") < F.lit(budget_tokens)).drop(
        "_tok_n", "_bkt", "_before"
    )


def _global_token_prefix(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """``docs`` plus ``_tok_n`` (whitespace token count), ``_bkt``, and
    ``_before`` — the EXACT number of tokens strictly before this row in
    the global ``(xxhash64(id) mod n_buckets, xxhash64(id), id)`` order.

    The distributed prefix-sum core shared by ``sample_to_token_budget``
    and ``pack_sequences``: per-bucket totals (``n_buckets`` longs) come
    to the driver, running offsets go back as a broadcast literal table,
    and a per-bucket window adds the within-bucket prefix in parallel —
    no single-partition exchange anywhere (plan-test pinned).
    """
    key = F.col(_quote(id_col))
    h = F.xxhash64(key)
    bucket = F.pmod(h, F.lit(n_buckets)).cast("int")
    toks = split_tokens(F.col(_quote(text_col)), lowercase=True)
    base = docs.withColumn("_tok_n", F.size(toks).cast("long")).withColumn(
        "_bkt", bucket
    )

    totals = {
        r._bkt: r.total
        for r in base.groupBy("_bkt").agg(F.sum("_tok_n").alias("total")).collect()
    }
    offsets, running = [], 0
    for b in range(n_buckets):
        offsets.append((b, running))
        running += totals.get(b, 0)
    from big_data_hadoop_spark.sources.io import local_frame

    offset_df = local_frame(
        docs.sparkSession, offsets, "_bkt int, _offset long"
    )

    w = (
        Window.partitionBy("_bkt")
        .orderBy(h, key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("_tok_n").over(w), F.lit(0)) + F.col("_offset")
    return base.join(F.broadcast(offset_df), "_bkt").withColumn(
        "_before", before
    ).drop("_offset")


def pack_sequences(
    docs: DataFrame,
    context_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Assign each document to a training pack: ``docs`` columns plus
    ``pack_id`` and ``pack_offset`` (the document's token offset inside
    its pack) — the context-window packing step that follows chunking
    in training-data prep.

    Contiguous-fill packing: documents in the deterministic global hash
    order fill pack 0 until ``context_tokens``, then pack 1, and so on —
    ``pack_id = floor(tokens_before / context_tokens)``. A document
    straddling a boundary belongs to the pack where it STARTS (standard
    greedy packing; the trainer truncates or pads the overflow). Every
    pack except the last holds at least ``context_tokens`` minus one
    document of slack, and reconstruction is exact: sorting a pack's
    members by ``pack_offset`` replays the fill order.

    Built on the same distributed prefix sum as
    ``sample_to_token_budget`` — no global sort, no single-partition
    exchange, deterministic across cluster layouts.
    """
    if context_tokens <= 0:
        raise ValueError("context_tokens must be positive")
    pref = _global_token_prefix(docs, text_col, id_col, n_buckets)
    return (
        pref.withColumn(
            "pack_id", F.floor(F.col("_before") / F.lit(context_tokens))
        )
        .withColumn(
            "pack_offset",
            F.col("_before") - F.col("pack_id") * F.lit(context_tokens),
        )
        .drop("_tok_n", "_bkt", "_before")
    )


def materialize_packs(
    docs: DataFrame,
    context_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """The trainer-facing artifact for ``pack_sequences`` (VERDICT r3
    #5): one row per pack with its member docs and the actual token
    payload, boundary truncation applied and accounted for.

    Output: ``(pack_id, n_docs, token_count, n_truncated, doc_ids
    array<long>, payload string)``. Docs appear in fill order; the one
    document that straddles the pack's right boundary (at most one, by
    construction — a doc belongs to the pack where it STARTS) is
    truncated to the boundary, its overflow counted in ``n_truncated``
    — each pack is an independent ``context_tokens``-bounded training
    example. Because the global token offsets stay contiguous (the
    overflow is dropped from the payload but still occupies its range),
    an interior pack's ``token_count`` is ``context_tokens`` minus the
    previous pack's ``n_truncated`` — the head of its range belonged to
    the truncated straddler. Packs therefore never exceed
    ``context_tokens`` and the slack per pack is exactly accounted for
    by the neighboring ``n_truncated`` bookkeeping.

    Everything stays JVM-side: kept tokens are an ``F.slice`` of the
    per-doc token array, pack assembly is one ``collect_list`` bounded
    by pack size (~``context_tokens`` tokens, NOT corpus size), and the
    only shuffle beyond the shared prefix sum is the groupBy(pack_id).
    Payload tokens keep original case (counting is case-insensitive but
    count-identical, since lowercasing never changes token boundaries).
    """
    if context_tokens <= 0:
        raise ValueError("context_tokens must be positive")
    c = F.lit(context_tokens)
    pref = _global_token_prefix(docs, text_col, id_col, n_buckets)
    pack_id = F.floor(F.col("_before") / c)
    pack_offset = F.col("_before") - pack_id * c
    kept = F.least(F.col("_tok_n"), c - pack_offset)
    member = (
        pref.withColumn("pack_id", pack_id)
        .withColumn("_kept", kept)
        .withColumn(
            "_kept_toks",
            F.slice(
                split_tokens(F.col(_quote(text_col))), 1,
                F.col("_kept").cast("int"),
            ),
        )
    )
    # fill-order sort key: within-pack offset, tie-broken by the global
    # hash order itself (zero-token docs share an offset with their
    # successor, possibly across a bucket boundary)
    entry = F.struct(
        (F.col("_before") - F.col("pack_id") * c).alias("off"),
        F.col("_bkt").alias("bkt"),
        F.xxhash64(F.col(_quote(id_col))).alias("h"),
        F.col(_quote(id_col)).alias("doc_id"),
        F.col("_kept").alias("kept"),
        (F.col("_tok_n") - F.col("_kept")).alias("cut"),
        F.col("_kept_toks").alias("toks"),
    )
    packed = (
        member.groupBy("pack_id")
        .agg(F.sort_array(F.collect_list(entry)).alias("_m"))
        .selectExpr(
            "pack_id",
            "size(_m) AS n_docs",
            "aggregate(_m, 0L, (a, x) -> a + x.kept) AS token_count",
            "aggregate(_m, 0L, (a, x) -> a + x.cut) AS n_truncated",
            "transform(_m, x -> x.doc_id) AS doc_ids",
            "concat_ws(' ', flatten(transform(_m, x -> x.toks))) AS payload",
        )
    )
    return packed


def find_contaminated(
    docs: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Train/eval contamination detection: training documents sharing at
    least one word ``n``-gram with any benchmark text — the
    decontamination step every serious pretraining pipeline runs before
    training (the 13-gram setting follows the published GPT-3 appendix-C
    procedure; public).

    ``(doc_id, bench_id, n_shared_ngrams)`` per contaminated (doc,
    benchmark) pair. Plan shape: both sides shingle into word n-grams
    (narrow array projections), then meet on a shingle equi-join — the
    benchmark side is tiny (eval sets are thousands of rows), so
    Catalyst broadcasts it and the corpus is scanned ONCE with no
    shuffle of document text; the join key is the n-gram string. Drop
    the flagged docs with an anti-join on ``doc_id``
    (:func:`decontaminate`).
    """
    from big_data_hadoop_spark.operators.dedup import shingles

    doc_sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    bench_sh = shingles(
        benchmarks, n=n, text_col=bench_text_col, id_col=bench_id_col
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col, bench_id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """The decontamination ACTION: ``docs`` minus every document flagged
    by :func:`find_contaminated` — one anti-join on ``doc_id``."""
    hits = find_contaminated(
        docs, benchmarks, n, text_col, id_col, bench_text_col, bench_id_col
    ).select(id_col).distinct()
    return docs.join(hits, id_col, "left_anti")


def sample_by_temperature(
    docs: DataFrame,
    tau: float,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-based source rebalancing: keep each source with a
    probability that flattens the source distribution toward
    ``p_s^(1/tau)`` (the multilingual-sampling rule from the mBERT/XLM-R
    line of work; public). ``tau = 1`` keeps everything; larger ``tau``
    upweights small sources RELATIVELY by downsampling large ones —
    concretely, source ``s`` keeps ``(p_s^(1/tau - 1)) / max_s'(...)``
    of its rows. For ``tau > 1`` the exponent is negative, so the
    SMALLEST source has the largest raw rate and normalizes to keep
    rate 1.0 while larger sources are downsampled hardest — the biggest
    relative upweighting achievable without upsampling (deterministic
    subsampling can only remove rows; true upsampling is a trainer-side
    repeat). At ``tau = 1`` every rate is 1.0.

    Driver work is one tiny aggregate (per-source counts — O(#sources)
    rows); each row's fate then depends only on ``(id, seed)`` via the
    same hash-Bernoulli rule as :func:`sample_fraction`, so the selection
    is deterministic across runs and layouts and composes with
    :func:`mix_corpora` provenance."""
    if tau <= 0:
        raise ValueError("tau must be positive")
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(source_col).agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return docs
    total = sum(counts.values())
    exponent = 1.0 / tau - 1.0
    raw = {s: (n / total) ** exponent for s, n in counts.items()}
    cap = max(raw.values())
    # smallest source -> 1.0 for tau > 1 (negative exponent); every
    # source -> 1.0 at tau == 1 (review finding: the old comment said
    # the inverse)
    keep = {s: r / cap for s, r in raw.items()}
    den = 1_000_000
    frac = F.create_map(
        *[
            x
            for s, f in keep.items()
            for x in (F.lit(s), F.lit(int(min(f, 1.0) * den)))
        ]
    )
    return docs.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(den))
        < frac[F.col(source_col)]
    )


def corpus_profile(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """One-row-per-group corpus health profile — the first thing anyone
    runs on a new snapshot before pointing the funnel at it: sizes,
    token/char volumes, length distribution, and the exact-duplicate
    rate per group.

    Everything is ANSI-SQL-expressible (counts, sums, exact interpolated
    percentiles, distinct digests), so the whole profile is verified
    against a DuckDB oracle in tests. ``dup_frac`` uses the engine's
    exact-dedup key (md5 of normalized text), so the number agrees with
    what ``exact_dedup`` would actually remove within the group.

    Scale shape: ONE aggregation keyed by ``group_cols`` (map-side
    partial for everything except the exact percentiles, whose sort is
    per-group and bounded by group size; substitute
    ``sketches.approx_percentiles`` for a sort-free single-number
    profile at extreme group cardinalities).
    """
    from big_data_hadoop_spark.operators.dedup import normalized_text

    from big_data_hadoop_spark.functions.text import kept_tokens

    toks = kept_tokens(text_col)
    staged = df.select(
        *group_cols,
        F.size(toks).cast("long").alias("_ntok"),
        F.length(text_col).cast("long").alias("_nchar"),
        F.md5(normalized_text(F.col(text_col))).alias("_h"),
    )
    n = F.count("*")
    return staged.groupBy(*group_cols).agg(
        n.alias("n_docs"),
        F.countDistinct("_h").alias("n_distinct"),
        # guarded: the GLOBAL (no group-cols) profile of an empty frame
        # is one SQL aggregate row with n=0, and ANSI mode (Spark 4
        # default) turns 0/0 into an error instead of NULL
        F.when(
            n > 0,
            (n - F.countDistinct("_h")).cast("double") / n.cast("double"),
        ).alias("dup_frac"),
        F.sum("_ntok").alias("total_tokens"),
        F.sum("_nchar").alias("total_chars"),
        F.round(F.avg("_ntok"), 2).alias("avg_tokens"),
        F.expr("percentile(_ntok, 0.5)").alias("p50_tokens"),
        F.expr("percentile(_ntok, 0.9)").alias("p90_tokens"),
    )


def split_leakage_safe(
    df: DataFrame,
    weights: dict[str, float],
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    split_col: str = "split",
    seed: int = 0,
) -> DataFrame:
    """Assign every document a train/validation/test label such that
    all members of a duplicate CLUSTER land in the SAME split.

    Hash-splitting individual doc_ids (``sample_fraction`` with
    disjoint seeds) silently leaks: a document and its near-duplicate
    can land in train and test, and the eval measures memorization of
    the duplicate, not generalization (the failure decontamination
    papers document for benchmark overlap applies intra-corpus too).
    The fix is to hash a GROUP key instead — here the ``cluster_id``
    from ``operators.dedup.duplicate_clusters`` (exact, MinHash,
    SimHash, winnow, or semantic pair sources all resolve through it).
    Documents in no cluster are their own group, keyed by their id, so
    the operator degrades to plain hash-splitting when ``clusters`` is
    None or empty.

    ``weights`` maps split name -> relative weight (normalized; e.g.
    ``{"train": 0.98, "val": 0.01, "test": 0.01}``). Assignment is
    ``pmod(xxhash64(key, seed), 1e6)`` against the cumulative weight
    boundaries — deterministic in (key, seed) alone, stable across
    runs, partitionings, and cluster layouts, like every sampler here.

    100 TB shape: one left join against the (small relative to corpus)
    cluster map — broadcast when it fits, shuffle equi-join otherwise —
    then a narrow per-row CASE. No window, no global sort; adding a
    split never rehashes rows (boundaries move only for names after the
    changed one in sorted order, same guarantee hash bucketing gives).
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be >= 0 with a positive sum: {weights}")
    den = 1_000_000
    total = float(sum(weights.values()))
    names = sorted(weights)  # deterministic boundary order
    key = F.col(id_col)
    if clusters is not None:
        cmap = clusters.select(
            F.col("member_id").alias(id_col), "cluster_id"
        )
        df = df.join(cmap, id_col, "left")
        key = F.coalesce(F.col("cluster_id"), F.col(id_col))
    bucket = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(den))
    acc = 0.0
    label = None
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < int(acc * den)
        label = F.when(cond, name) if label is None else label.when(cond, name)
    label = (
        F.lit(names[-1])
        if label is None
        else label.otherwise(names[-1])
    )
    out = df.withColumn(split_col, label)
    return out.drop("cluster_id") if clusters is not None else out


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 1000,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """At most ``cap`` rows per group, chosen deterministically — the
    per-domain / per-source cap of web curation stacks (a handful of
    giant domains otherwise dominate a crawl) and, equally, an exact
    per-group quota sampler for building balanced eval sets.

    Selection keeps the ``cap`` smallest ``(xxhash64(id, seed), id)``
    keys per group: a uniform, reproducible choice that depends only on
    (id, seed) — stable across runs, partitionings, and cluster layouts,
    like ``sample_fraction``. Different seeds draw independent subsets.

    100 TB shape: ranking inside a group serializes that group through
    one task, so the operator first splits on a per-group count — groups
    already at-or-under the cap (the overwhelming mass of domains) pass
    through with NO ranking via a broadcastable semi-join on the
    (one-row-per-group) count frame, and only the offenders pay the
    window. The count and the window shuffle by the same group key; the
    offender window is bounded by the offending groups' rows, not the
    corpus.
    """
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    group = _quote(group_col)
    counts = df.groupBy(group).agg(F.count("*").alias("_n"))
    under = counts.filter(F.col("_n") <= cap).select(group)
    over = counts.filter(F.col("_n") > cap).select(group)
    # null-safe semi joins (review finding): groupBy keeps a NULL group
    # (docs with missing provenance), but an equi semi-join never
    # matches NULL == NULL — every NULL-group row silently vanished.
    # <=> routes the NULL group through the same under/over split as
    # any other group; the window partitions NULL as its own group too.
    def semi(side):
        return df.alias("d").join(
            F.broadcast(side.alias("g")),
            F.col(f"d.{group}").eqNullSafe(F.col(f"g.{group}")),
            "left_semi",
        )

    passthrough = semi(under)
    key = _quote(id_col)
    order = f"pmod(xxhash64({key}, {int(seed)}), 1000000007), {key}"
    capped = top_k_per(semi(over), group_col, order, cap, rank="_rn").drop(
        "_rn"
    )
    return passthrough.unionByName(capped)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    group_col: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: ``k`` rows drawn with
    inclusion probability proportional to ``weight_col`` (Efraimidis–
    Spirakis A-ES, public — "Weighted random sampling with a
    reservoir", IPL 2006). The curation use: quality- or length-biased
    subcorpus draws where a plain uniform sample (``sample_fraction``)
    over/under-represents what training actually consumes.

    Mechanics: each row gets an exponential race key
    ``-ln(u) / w`` with ``u ∈ (0,1)`` derived from
    ``xxhash64(id, seed)`` — the k SMALLEST keys win, which is
    distribution-identical to sequential draws-without-replacement with
    probabilities ``w_i / Σ_remaining w``. Rows with NULL or
    non-positive weight are ineligible and filtered out.

    Determinism: the key depends only on ``(id, seed, weight)`` — the
    same rows win across runs, partitionings, and cluster layouts, and
    different seeds draw independent samples (same contract as
    ``sample_fraction`` / ``cap_per_group``).

    100 TB shape: global ``k`` compiles to ``TakeOrderedAndProject`` —
    per-partition top-k then a k-row merge, never a full sort; driver
    sees k rows. With ``group_col`` the quota applies per group via a
    ``row_number`` window — one shuffle keyed by group, the same shape
    (and caveat: a giant group serializes through one task) as
    ``cap_per_group``.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    den = 2**31
    u = (
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(den)).cast(
            "double"
        )
        + F.lit(0.5)
    ) / F.lit(float(den))
    w = F.col(weight_col).cast("double")
    key = -F.log(u) / w
    eligible = df.filter(w.isNotNull() & (w > 0)).withColumn("_es_key", key)
    if group_col is None:
        picked = eligible.orderBy("_es_key", id_col).limit(k)
    else:
        picked = top_k_per(
            eligible, group_col, f"_es_key, {_quote(id_col)}", k, rank="_rn"
        ).drop("_rn")
    return picked.drop("_es_key")


def _group_cuts_join(
    df: DataFrame, group_col: str, aggs: dict[str, Column]
) -> DataFrame:
    """Per-group cut values (one mergeable aggregate — O(groups) rows)
    broadcast back onto ``df`` with a NULL-safe group join: the shared
    scaffolding of :func:`filter_by_group_quantile` and
    :func:`winsorize_by_group` (review finding: it was copy-pasted).
    ``aggs`` maps output name → aggregate expression. The corpus
    itself shuffles zero times. Internal/output column names refuse
    loudly on collision with the frame's own columns — the
    ``zorder_cluster`` precedent; an ambiguous-reference error after
    the join would point nowhere near the cause."""
    internal = {"_grp", *aggs}
    clash = internal & set(df.columns)
    if clash:
        raise ValueError(
            f"frame columns {sorted(clash)} collide with internal "
            "group-cut names — rename them first"
        )
    cuts = (
        df.groupBy(group_col)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
        .withColumnRenamed(group_col, "_grp")
    )
    return df.join(
        F.broadcast(cuts),
        F.col(group_col).eqNullSafe(F.col("_grp")),
        "inner",
    ).drop("_grp")


def filter_by_group_quantile(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    group_col: str = "source",
    best: str = "low",
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep the best-scoring ``keep_frac`` of rows WITHIN EACH GROUP —
    the per-domain form of quantile gating (CCNet cuts per language,
    domain-balanced quality filters cut per source: a global cutoff
    would gut weak domains and keep every row of strong ones; rows with
    NULL score are dropped like ``ppl_filter``). ``best="low"`` keeps
    scores at or below the group's ``keep_frac`` quantile (perplexity
    style); ``best="high"`` keeps the top ``keep_frac`` (quality-score
    style). The cutoff is an actual data value and is kept INCLUSIVELY,
    so the kept fraction is at least ``keep_frac`` — ties at the cutoff
    never split (the right bias for a filter: borderline documents
    survive together or not at all).

    Cutoffs come from ``percentile_approx`` per group (one mergeable
    aggregate — O(groups) rows, rank error ``n_group / accuracy``) and
    join back broadcast, so the data shuffles ZERO times: scan → gate.
    The alternative per-row ``percent_rank`` window would shuffle the
    corpus by group and serialize giant groups through single tasks —
    wrong shape at 100 TB.
    """
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    if best not in ("low", "high"):
        raise ValueError(f"best must be 'low' or 'high', got {best!r}")
    q = keep_frac if best == "low" else 1.0 - keep_frac
    j = _group_cuts_join(
        df,
        group_col,
        {"_cut": F.percentile_approx(score_col, q, accuracy)},
    )
    s = F.col(score_col)
    keep = (s <= F.col("_cut")) if best == "low" else (s >= F.col("_cut"))
    return j.filter(s.isNotNull() & keep).drop("_cut")


def winsorize_by_group(
    df: DataFrame,
    value_col: str,
    lo_frac: float = 0.01,
    hi_frac: float = 0.99,
    group_col: str = "source",
    accuracy: int = 10_000,
) -> DataFrame:
    """CLAMP each group's values to its ``[lo_frac, hi_frac]``
    quantile band — the keep-the-row twin of
    :func:`filter_by_group_quantile` (that one DROPS outliers; a
    mixing weight, a reward signal, or a length prior usually wants
    the row kept with its tail influence capped — classical
    winsorization, per group so a heavy-tailed domain cannot set the
    clamp for a light-tailed one). The value column is REPLACED with
    its clamped double; NULL values pass through NULL (nothing to
    clamp), and every row survives by construction.

    Same scale shape as the gate: per-group ``percentile_approx``
    (one mergeable aggregate, O(groups) rows) broadcast back — the
    corpus itself shuffles ZERO times. DuckDB oracle in tests
    (quantile-band clamp recomputed per group)."""
    if not (0.0 <= lo_frac < hi_frac <= 1.0):
        raise ValueError(
            f"need 0 <= lo_frac < hi_frac <= 1, got {lo_frac}/{hi_frac}"
        )
    v = F.col(value_col).cast("double")
    # NaN is excluded from the band computation (it sorts ABOVE every
    # double, so a single NaN would drag _hi to NaN at high hi_frac)
    # and passes through the clamp unchanged like NULL — rewriting it
    # to the hi cut would fabricate a data value (review finding; the
    # zorder NaN-safety posture)
    clean = F.when(~F.isnan(v), v)
    band = F.percentile_approx(
        clean, F.array(F.lit(lo_frac), F.lit(hi_frac)), accuracy
    )  # ONE sketch for both cuts, not two
    j = _group_cuts_join(
        df,
        group_col,
        {"_lo": band.getItem(0), "_hi": band.getItem(1)},
    )
    clamped = F.when(
        v.isNotNull() & ~F.isnan(v),
        F.least(F.greatest(v, F.col("_lo")), F.col("_hi")),
    ).otherwise(v)
    return j.withColumn(value_col, clamped).drop("_lo", "_hi")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: one row per document
    id with ``status`` in ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` — the audit step between ingest runs (what did this
    crawl refresh actually do?). Content comparison is by md5 of
    normalized text (``dedup.normalized_text`` — the same digest the
    dedup family keys on), so cosmetic whitespace drift is
    ``unchanged``.

    Full outer join on the id, digests compared in place: digests
    shuffle, text bodies never do. One shuffle per side.
    """
    from big_data_hadoop_spark.operators.dedup import normalized_text

    def dig(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(normalized_text(F.col(text_col))).alias(name),
        )

    o, n = dig(old, "_h_old"), dig(new, "_h_new")
    return (
        o.join(n, id_col, "full_outer")
        .select(
            id_col,
            F.when(F.col("_h_old").isNull(), F.lit("added"))
            .when(F.col("_h_new").isNull(), F.lit("removed"))
            .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


def shuffled_shards(
    docs: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Seeded deterministic global shuffle + shard assignment for
    training-data export: adds ``shard`` (``0..n_shards-1``) and
    returns the frame clustered one-shard-per-task, each shard
    internally ordered by a second independent hash of ``(id, seed)``.
    Every trainer's data loader wants exactly this — the corpus split
    into N pseudo-randomly assigned shard files whose contents and
    internal order are a pure function of ``(id, seed)``: independent
    of input partitioning, cluster size, and row arrival order, so a
    re-export reproduces byte-identical shards and changing ``seed``
    re-deals the entire corpus.

    Scale shape: shard assignment and order key are flat codegen'd
    hash expressions; the only movement is ONE hash repartition on
    ``shard`` (no global sort — a total ``orderBy(rand)`` would
    range-sample and sort 100 TB for an order nobody needs across
    shard boundaries) followed by a within-task sort. Distinct hash
    salts decorrelate the two keys (a shared key would sort each
    shard by the very value that assigned it — the low bits that
    survive ``pmod`` would leak assignment structure into the order).

    ``order_col`` switches a shard's internal order from the shuffle
    hash to that column ASCENDING (id tie-break) — the CURRICULUM
    export: shard assignment stays pseudo-random (every shard is a
    fair sample of the corpus, so data parallelism across shard
    consumers is unbiased), but each consumer walks its shard
    easy-to-hard by the given difficulty/quality score. Same cost:
    the sort key changes, the one-Exchange shape doesn't.

    ``write_shuffled_shards`` materializes one file per shard.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(int(seed))), F.lit(n_shards)
    ).cast("int")
    order = (
        F.col(order_col)
        if order_col is not None
        else F.xxhash64(F.col(id_col), F.lit(int(seed)), F.lit("order"))
    )
    # id_col tie-break: at ~10**9 docs/shard an xxhash64 collision per
    # shard is percent-level likely (and score ties are common), and
    # tied rows would order by shuffle arrival — breaking the
    # byte-identical re-export promise
    return (
        docs.withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order, id_col)
    )


def write_shuffled_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    fmt: str = "parquet",
    order_col: str | None = None,
) -> None:
    """Materialize :func:`shuffled_shards` as ``shard=K/`` hive
    directories, ONE data file per shard (each shard value lives in
    exactly one task after the repartition, and ``partitionBy`` splits
    a task's output per shard value — so a task holding two colliding
    shard values still writes each to its own directory). ``fmt`` is
    ``parquet`` or ``json`` (JSONL, the trainer-facing interchange
    form)."""
    w = shuffled_shards(
        docs, n_shards, seed=seed, id_col=id_col, order_col=order_col
    ).write.mode("overwrite").partitionBy("shard")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "json":
        w.json(path)
    else:
        raise ValueError(f"unsupported shard format: {fmt}")
