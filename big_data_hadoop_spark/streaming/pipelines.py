"""Structured Streaming pipelines (extension beyond the reference — the
reference is batch-only, SURVEY §2.6).

Streaming variants of the engine's core aggregations: incremental token
counts over a document stream, and watermarked tumbling-window event
aggregation whose completed-window output matches the batch twin
(``probes.q28_event_windows``) — the classic lambda-free design: same
DataFrame expressions, ``readStream`` instead of ``read``.

Scale posture: watermarks bound state; aggregation state is keyed by
(window, event_type) — cardinality is windows × types, independent of
event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_hadoop_spark.operators.tokenize import tokens

def read_events_stream(
    spark: SparkSession, path: str, **options: str
) -> DataFrame:
    """File-source stream over an events parquet directory; ts normalized
    to a µs TIMESTAMP exactly as the batch reader sees it.

    Streams need an explicit schema, but pinning one is brittle — the
    generated testdata has shipped ``ts`` both as int64 epoch-nanos and as
    parquet ``timestamp[us]`` (TIMESTAMP_NTZ). Deriving the schema from a
    batch read (a footer-only metadata scan, no data pages touched) keeps
    the stream byte-identical with batch semantics across either layout.

    ``options`` are forwarded to the stream reader (e.g.
    ``maxFilesPerTrigger="1"`` for deterministic micro-batch replay).
    """
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.parquet(path)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # epoch nanos
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # TIMESTAMP_NTZ → TIMESTAMP is a no-op relabel under the UTC session TZ
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def read_files_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    glob: str = "*.parquet",
    **options: str,
) -> DataFrame:
    """File-source stream over a landing directory — the streaming twin
    of the batch manifest contract (``sources.io.read_incremental``):
    Structured Streaming's file source keeps its own processed-files
    log inside the CHECKPOINT, so each trigger reads exactly the files
    no earlier trigger has, with the same at-least-once semantics the
    batch manifest provides (an epoch that fails before its sink
    commits is replayed whole; compose with the epoch-marker
    idempotence in ``operators.sketches.maintain_state`` for
    effectively-once folds — the drained-equivalence test pins stream
    ≡ batch-ingest+fold on the same file drops).

    One DOCUMENTED divergence from the batch manifest: the file
    source's log keys on PATH only, so an in-place overwrite of an
    already-seen path (same name, new bytes) is NOT re-ingested,
    while the batch manifest keys ``(path, length, mtime)`` and
    re-ingests it. Landing zones that append new files (the layout
    every streaming ingest assumes) behave identically under both;
    :func:`reconcile_files_stream` audits the contract and reports any
    silently-skipped overwrite.
    Two further file-source defaults are overridden here to HOLD the
    manifest contract (review finding: both silently diverged):

    - ``maxFileAge`` defaults to effectively-unbounded — Spark's 7-day
      default silently skips files whose mtime trails the newest by
      more than the age (an mtime-preserving backfill copy of old
      files would never be ingested). The seen-files log then grows
      O(files), the same driver state the batch manifest holds; pass
      a finite ``maxFileAge`` to trade the blind spot back for a
      bounded log.
    - the schema footer read merges ALL present footers
      (``mergeSchema`` for parquet/orc) instead of trusting one
      arbitrary file — a landing dir mid-schema-evolution would
      otherwise silently drop the newer columns from every trigger
      (the same footgun ``read_parquet_evolving`` exists to fix).

    The directory must hold at least one file when the stream is
    DEFINED — the standard file-source bootstrap requirement.
    ``options`` forward to the reader (e.g. ``maxFilesPerTrigger="1"``
    for deterministic replay).
    """
    schema_reader = spark.read.format(fmt).option("pathGlobFilter", glob)
    if fmt in ("parquet", "orc"):
        schema_reader = schema_reader.option("mergeSchema", "true")
    schema = schema_reader.load(path).schema
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("pathGlobFilter", glob)
    )
    if "maxFileAge" not in options:
        reader = reader.option("maxFileAge", "36500d")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def reconcile_files_stream(
    spark: SparkSession,
    path: str,
    checkpoint: str,
    glob: str = "*.parquet",
) -> DataFrame:
    """Detect the batch↔stream ingest divergence: files a
    :func:`read_files_stream` pipeline has SILENTLY SKIPPED because
    they were overwritten IN PLACE after ingestion. The file source's
    checkpoint log keys on PATH only, so a same-name overwrite (new
    bytes, new mtime) is never re-ingested — while the batch manifest
    (``sources.io.read_incremental``) keys ``(path, length, mtime)``
    and re-ingests it. Acceptable for append-only landing zones; silent
    data loss if that contract is violated. Run this on a schedule (or
    after any backfill) to turn the silent divergence into a report.

    Mechanics: the stream's processed-files log
    (``<checkpoint>/sources/*/...`` — "v1"-headed JSON-lines, compacts
    included) records each ingested path with the file's modification
    time at ingest. Flagged = paths whose CURRENT on-disk mtime is
    newer than the LATEST logged mtime for that path. Both sides are
    metadata-only and distributed (the log is a text read; the listing
    is the pruned ``binaryFile`` scan) — no data pages are touched, so
    the reconcile costs O(files), not O(bytes), at any scale.

    Returns ``(path, length, logged_mtime_ms, current_mtime_ms)`` —
    empty means the contract held. Remediation is caller policy:
    re-copy the file under a NEW name (the append-only fix, picked up
    by the next trigger) or replay through the batch manifest path.

    Blind spot, stated: an overwrite that preserves BOTH mtime and
    path is indistinguishable from no-op by any metadata check; the
    batch manifest shares this (it would also need a content digest).
    """
    import glob as globmod
    import os

    from big_data_hadoop_spark.sources.io import list_data_files

    log_glob = os.path.join(checkpoint, "sources", "*", "*")
    if not globmod.glob(log_glob):
        # the stream has not completed a first trigger yet (no
        # processed-files log) — "nothing ingested, nothing diverged"
        # is an EMPTY report, not an AnalysisException; this function
        # is documented to run on a schedule, which can fire first
        return spark.createDataFrame(
            [],
            "path string, length long, logged_mtime_ms long, "
            "current_mtime_ms long",
        )
    entry = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("timestamp", T.LongType()),
            T.StructField("batchId", T.LongType()),
        ]
    )
    # strip the "v1" header lines; compact files repeat entries, the
    # max() below collapses them
    logged = (
        spark.read.text(log_glob)
        .filter(F.col("value").startswith("{"))
        .select(F.from_json("value", entry).alias("e"))
        .select(
            # normalize file:///x vs file:/x URI spellings to a bare
            # absolute path so the two listings join
            F.regexp_replace("e.path", "^file:/+", "/").alias("path"),
            F.col("e.timestamp").alias("logged_mtime_ms"),
        )
        .groupBy("path")
        .agg(F.max("logged_mtime_ms").alias("logged_mtime_ms"))
    )
    current = list_data_files(spark, path, glob=glob).select(
        F.regexp_replace("path", "^file:/+", "/").alias("path"),
        "length",
        F.unix_millis("modificationTime").alias("current_mtime_ms"),
    )
    return (
        current.join(logged, "path")
        .filter(F.col("current_mtime_ms") > F.col("logged_mtime_ms"))
        .select("path", "length", "logged_mtime_ms", "current_mtime_ms")
    )


def streaming_windowed_event_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window count/sum per event type.

    Late data beyond ``watermark`` is dropped and window state is evicted —
    bounded state at any scale. Output schema matches the batch twin
    (q28): ``window_start, event_type, n, sv``.
    """
    win = F.window(F.col("ts"), window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sv",
        )
    )


def streaming_token_counts(lines: DataFrame) -> DataFrame:
    """Incremental word/number counts over a text stream (the reference's
    WordCount as an unbounded computation). Complete-mode sink expected."""
    t = tokens(lines, keep_cols=())
    return t.groupBy("category", "token").agg(F.count("*").alias("cnt"))


def streaming_topk_words(
    lines: DataFrame,
    k: int = 1000,
    lowercase: bool = True,
    category: str | None = "word",
) -> DataFrame:
    """The reference's ``SparkWordCount`` top-K (T1) as an unbounded
    query. Sorting with a limit is legal on a streaming aggregation in
    complete output mode, and each micro-batch re-plans the same
    ``TakeOrderedAndProject`` the batch twin uses — per-partition top-K
    merged on one reducer, K rows total, never a full sort. Deterministic
    tie-break (``cnt DESC, token ASC``) matches batch ``top_k`` so the
    drained stream equals the batch result exactly.
    """
    from big_data_hadoop_spark.operators.counts import token_counts, top_k

    return top_k(
        token_counts(lines, lowercase=lowercase, category=category), k=k
    )


def streaming_pair_counts(
    lines: DataFrame, m: int = 1, lowercase: bool = False
) -> DataFrame:
    """The reference's signature co-occurrence computation as an unbounded
    query (VERDICT r3 #3): window-``m`` forward pairs over a document
    stream, semantics of ``HadoopWordPairs.java:54-79`` /
    ``HadoopWordPairs2.java:49-77``.

    Zero new machinery is the point of the design: pair generation
    (``operators.cooccur._window_elements``) is a stateless per-document
    array projection — it streams unchanged — and the count is a single
    streaming aggregation whose state is one long per live (category,
    left, right) key, map-side-compacted before the shuffle exactly as in
    batch. Complete-mode sink expected; drained output equals batch
    ``pair_counts`` row-for-row.
    """
    from big_data_hadoop_spark.operators.cooccur import pair_counts

    return pair_counts(lines, m=m, lowercase=lowercase)


def streaming_neighbor_counts(
    lines: DataFrame, m: int = 1, lowercase: bool = False
) -> DataFrame:
    """Streaming stripes, flat form: symmetric neighbor counts
    ``(category, token, neighbor, cnt)`` at distance ``1..m`` either way
    (``HadoopWordStripes2.java:50-112`` semantics).

    The map-valued stripe rollup is deliberately NOT part of the
    streaming query: it would be a second chained aggregation, which
    Structured Streaming disallows, and the flat form is the honest
    streaming state layout anyway (one count per edge). Roll the drained
    or per-batch output up with ``operators.cooccur.stripes``-style
    ``map_from_entries`` at presentation time.
    """
    from big_data_hadoop_spark.operators.cooccur import neighbor_counts

    return neighbor_counts(lines, m=m, lowercase=lowercase)


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("end_us", T.LongType(), False),
    ]
)

_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
    ]
)


def streaming_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization of the event
    stream via ``applyInPandasWithState`` (the batch twin is
    ``probes.q29_sessionization``).

    Per user, events separated by more than ``gap_seconds`` start a new
    session; a closed session is emitted once with its event count and
    span. State is one 4-long tuple per active user — bounded by the live
    user population, not event volume — and is dropped on event-time
    timeout once the watermark passes the gap.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            sid, n, start_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                [[user_id, sid, n, start_us, last_us]],
                columns=[f.name for f in SESSION_OUTPUT_SCHEMA],
            )
            return
        ts_us = np.sort(
            np.concatenate(
                [p["ts"].astype("datetime64[us]").astype("int64") for p in pdfs]
            )
        )
        if state.exists:
            sid, n, start_us, last_us = state.get
        else:
            sid, n, start_us, last_us = 0, 0, int(ts_us[0]), int(ts_us[0])
        closed = []
        for t in ts_us:
            t = int(t)
            if n and t - last_us > gap_us:
                closed.append([user_id, sid, n, start_us, last_us])
                sid, n, start_us = sid + 1, 0, t
            n += 1
            # monotone bounds (review finding): a LATER micro-batch can
            # deliver an out-of-order but watermark-admitted event
            # (t < last_us). Regressing last_us would spuriously split
            # the session on the next in-order event and move the
            # timeout timestamp backward; instead the admitted late
            # event joins the current session (t - last_us < 0 < gap)
            # and may extend its START backward. Late events belonging
            # to an ALREADY-CLOSED session still merge here — exact
            # reordering needs watermark-horizon buffering, which this
            # operator deliberately trades away for O(1) state.
            if t < start_us:
                start_us = t
            if t > last_us:
                last_us = t
        state.update((sid, n, start_us, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                [list(r) for r in closed],
                columns=[f.name for f in SESSION_OUTPUT_SCHEMA],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    key_cols: tuple[str, ...] = ("content_sha",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication — the unbounded twin of the batch
    ``operators.dedup.exact_dedup``: the first ARRIVAL of each content
    digest passes, later duplicates are dropped. (Arrival order, not
    event time: like batch ``dropDuplicates``, the surviving
    representative is arbitrary-but-one per key; the batch operator's
    keep-lowest-id rule needs a full group view a stream never has.)

    ``dropDuplicatesWithinWatermark`` keys state by ``key_cols`` and
    EVICTS each key once the watermark passes its event time — bounded
    state (keys seen within the watermark horizon), the correct trade
    for an unbounded corpus: exact within the horizon, at-most-once per
    horizon across it. A plain ``dropDuplicates`` on a stream would grow
    state forever.
    """
    return docs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_curate(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    watermark: str = "1 hour",
    max_dup_line_frac: float | None = None,
) -> DataFrame:
    """Streaming twin of the batch curation funnel (minus near-dedup):
    the SAME fused quality+language gate predicate
    (``pipeline.curation_gate`` — stateless, so it streams as-is,
    including the optional ``max_dup_line_frac`` repetition gate),
    followed by watermark-bounded exact dedup keyed on the md5 of
    normalized text (the batch funnel's dedup key). An arriving
    document passes iff it clears the gates and no document with the
    same normalized content arrived within the watermark horizon.
    """
    from big_data_hadoop_spark.operators.dedup import normalized_text
    from big_data_hadoop_spark.pipeline import curation_gate

    gated = docs.filter(
        curation_gate(
            text_col, min_tokens, min_alpha_ratio, langs,
            max_dup_line_frac=max_dup_line_frac,
        )
    ).withColumn("_content_h", F.md5(normalized_text(F.col(text_col))))
    return streaming_exact_dedup(
        gated, key_cols=("_content_h",), ts_col=ts_col, watermark=watermark
    ).drop("_content_h")


def streaming_ppl_score(
    docs: DataFrame,
    lm,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    lam: float = 0.8,
) -> DataFrame:
    """Streaming twin of ``operators.ngram_lm.ngram_lm_score``: score an
    unbounded document stream against a STATIC trained bigram LM.

    The LM count tables join in as stream-static equi-joins (supported
    natively by Structured Streaming; the static side is planned per
    micro-batch, broadcast when small); the per-document reduction is a
    watermarked streaming aggregation keyed ``(ts, doc_id)``. The one
    divergence from the batch twin, inherent to streams: documents with
    NO bigram events (< 2 kept tokens) produce no output row — the
    batch operator can left-join the full corpus back, a stream cannot
    (that would be a stream-stream self-join keyed on absence). The
    equivalence test compares against the batch result filtered to
    ``n_bigrams > 0``.

    The smoothing denominators ``(n_tokens, vocab)`` are read ONCE at
    plan-construction time (one tiny action over the totals frame —
    two longs): a stream cannot cross-join a lazy static aggregate,
    and a production scorer wants the model frozen per run anyway.
    """
    totals = lm.totals.collect()[0]
    n_tok, vocab = float(totals["n_tokens"]), float(totals["vocab"])
    from big_data_hadoop_spark.operators.ngram_lm import _bigram_events

    ev = _bigram_events(
        docs.withWatermark(ts_col, watermark), id_col, text_col, keep=(ts_col,)
    )
    uni1 = lm.unigrams.select(F.col("token").alias("w1"), F.col("c1").alias("c_w1"))
    uni2 = lm.unigrams.select(F.col("token").alias("w2"), F.col("c1").alias("c_w2"))
    scored = (
        ev.join(lm.bigrams, ["w1", "w2"], "left")
        .join(uni1, "w1", "left")
        .join(uni2, "w2", "left")
    )
    p_ml = F.when(
        F.col("c_w1").isNotNull() & F.col("c2").isNotNull(),
        F.col("c2").cast("double") / F.col("c_w1").cast("double"),
    ).otherwise(F.lit(0.0))
    p_uni = (F.coalesce(F.col("c_w2"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.lit(max(n_tok + vocab, 1.0))
    )
    nll = -F.log(F.lit(float(lam)) * p_ml + F.lit(1.0 - float(lam)) * p_uni)
    return (
        scored.groupBy(ts_col, id_col)
        .agg(F.count("*").alias("n_bigrams"), F.avg(nll).alias("avg_nll"))
        .select(
            id_col, "n_bigrams", "avg_nll", F.exp("avg_nll").alias("ppl")
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM join with an event-time constraint — the attribution
    shape (impression stream ⋈ click stream: same key, the right event
    lands within ``[left_ts, left_ts + max_delay]``). The one Structured
    Streaming join mode the module lacked: every other streaming op here
    is either stateless, an aggregation, or a stream-static join.

    Both sides carry a watermark and the join predicate carries the time
    band; together they BOUND the join state Spark must buffer — each
    side's rows are evicted once the other side's watermark passes the
    last instant they could still match (watermark + max_delay). Without
    the time constraint Spark would (correctly) refuse an outer variant
    and buffer inner-join state forever — unbounded state is the classic
    stream-join failure at 100 TB/day volumes.

    Timestamp columns must be PRE-RENAMED to distinct names (``l_ts`` /
    ``r_ts``) by the caller: Spark resolves the time-constraint predicate
    by column name across both inputs, so a shared name like ``ts`` on
    both sides is ambiguous inside one join condition.

    ``how="inner"`` drains to exactly the batch join's result (pinned in
    tests). ``how="left_outer"`` additionally emits left rows with NULL
    right columns — but only once the watermark proves no match can
    arrive, so a drained single pass emits the matches immediately while
    unmatched rows surface on a LATER trigger after the watermark
    advances past their band (exercised via a second availableNow run
    over the same checkpoint, the restart pattern).
    """
    allowed = {"inner", "left_outer"}
    if how not in allowed:
        raise ValueError(f"how must be one of {sorted(allowed)}, got {how!r}")
    l_key, r_key = f"l_{key}", f"r_{key}"
    lw = left.withColumnRenamed(key, l_key).withWatermark(left_ts, watermark)
    rw = right.withColumnRenamed(key, r_key).withWatermark(right_ts, watermark)
    cond = (
        (F.col(l_key) == F.col(r_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Append-mode parquet sink with checkpointing — the durable end of a
    readStream -> transform -> writeStream pipeline. ``available_now``
    drains the current source contents and stops (batch-style backfill);
    leave False for a continuously running query. Returns the started
    ``StreamingQuery``."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user", T.LongType(), False),
        T.StructField("reached", T.IntegerType(), False),
        T.StructField("completed", T.BooleanType(), False),
        T.StructField("first_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("final", T.BooleanType(), False),
    ]
)

_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.IntegerType(), False),
        T.StructField("first_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
        T.StructField("buf_ts", T.ArrayType(T.LongType()), False),
        T.StructField("buf_ty", T.ArrayType(T.StringType()), False),
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps,
    within_seconds: float | None = None,
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of ``relational.funnel_progress`` — the greedy
    first-touch funnel walk over an unbounded event stream, with the
    SAME event-time semantics as the batch fold: out-of-order arrivals
    within the watermark horizon are handled by BUFFERING each user's
    step events in state and folding them only once the watermark
    passes their timestamps (so the fold always consumes events in
    event-time order, exactly like the batch sort). This is the
    opposite trade from ``streaming_sessionize``, which folds in
    arrival order for O(1) state — here per-user state is O(events
    within the watermark horizon), the price of exact batch
    equivalence.

    Emissions (append mode): a ``final=false`` milestone row when a
    user's fold COMPLETES the funnel while the stream is still
    delivering their data (a completion discovered only at the timeout
    flush appears solely in its final row), and exactly one
    ``final=true`` row per user when their event-time timeout fires —
    at which point every buffered event has been folded and the row
    equals the batch result on the same events (pinned by the
    drained-equivalence test). State is removed on timeout; a user who
    resumes later starts a fresh walk. Once a user completes, their
    subsequent events are DROPPED rather than buffered (they cannot
    change the result), so completed-but-active users carry O(1)
    state instead of a horizon's worth of events (review finding).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    steps = list(steps)
    if not steps:
        raise ValueError("steps must be non-empty")
    budget_us = (
        None if within_seconds is None else int(within_seconds * 1_000_000)
    )

    def fold(evs, stage, first_us, last_us):
        for t, y in evs:
            if stage >= len(steps) or y != steps[stage]:
                continue
            if (
                budget_us is not None
                and first_us is not None
                and t - first_us > budget_us
            ):
                continue
            stage += 1
            if first_us is None:
                first_us = t
            last_us = t
        return stage, first_us, last_us

    def row(user, stage, first_us, last_us, final):
        return [
            user,
            stage,
            stage == len(steps),
            first_us,
            last_us,
            final,
        ]

    def update(key, pdfs, state: GroupState):
        (user,) = key
        cols = [f.name for f in FUNNEL_OUTPUT_SCHEMA]
        if state.hasTimedOut:
            stage, first_us, last_us, buf_ts, buf_ty = state.get
            stage, first_us, last_us = fold(
                sorted(zip(buf_ts, buf_ty)), stage, first_us, last_us
            )
            state.remove()
            yield pd.DataFrame(
                [row(user, stage, first_us, last_us, True)], columns=cols
            )
            return
        new = []
        for p in pdfs:
            ts_us = p[ts_col].astype("datetime64[us]").astype("int64")
            new.extend(zip(ts_us.tolist(), p[type_col].tolist()))
        if state.exists:
            stage, first_us, last_us, buf_ts, buf_ty = state.get
            buf = list(zip(buf_ts, buf_ty)) + new
        else:
            stage, first_us, last_us = 0, None, None
            buf = new
        was_done = stage == len(steps)
        wm_us = state.getCurrentWatermarkMs() * 1000
        if was_done:
            # post-completion events cannot change the result — drop
            # them so a completed-but-active user holds O(1) state
            buf, ready, hold = [], [], []
        else:
            buf.sort()
            ready = [e for e in buf if e[0] <= wm_us]
            hold = buf[len(ready):]
        stage, first_us, last_us = fold(ready, stage, first_us, last_us)
        if stage == len(steps):
            hold = []  # same reasoning once completion happens NOW
        state.update(
            (
                stage,
                first_us,
                last_us,
                [t for t, _ in hold],
                [y for _, y in hold],
            )
        )
        # flush once the watermark has passed every event seen so far
        # (no earlier event can still arrive); must exceed the current
        # watermark or Spark rejects the timestamp
        max_ms = max((t for t, _ in buf), default=wm_us) // 1000
        state.setTimeoutTimestamp(max(max_ms + 1, wm_us // 1000 + 1))
        if stage == len(steps) and not was_done:
            yield pd.DataFrame(
                [row(user, stage, first_us, last_us, False)], columns=cols
            )

    relevant = (
        events.select(
            F.col(user_col).alias("user"),
            F.col(ts_col).cast("timestamp").alias(ts_col),
            F.col(type_col),
        )
        .filter(F.col(type_col).isin(steps))
        .withWatermark(ts_col, watermark)
    )
    return relevant.groupBy("user").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_upsert(
    stream: DataFrame,
    path: str,
    key_cols,
    order_col: str,
    checkpoint: str,
    partition_cols=None,
    available_now: bool = True,
    stats_path: str | None = None,
    stats_glob: str = "*.parquet",
):
    """CDC-style streaming MERGE sink: a stream of keyed CHANGE rows
    continuously upserted into the parquet dataset at ``path`` via
    ``sources.io.upsert_parquet`` — the change-capture half of the
    storage layer (the batch MERGE's unbounded twin).

    Per micro-batch: changes reduce to the LATEST row per key by
    ``order_col`` (a version/timestamp column). Tie rule, stated
    explicitly: two change rows with EQUAL ``order_col`` for the same
    key resolve by lexicographic max over the remaining payload
    columns (struct max) — deterministic across retries and shuffle
    orders, but an arbitrary pick among genuinely different payloads;
    a CDC feed should carry a unique, monotone version (an LSN or
    per-key sequence number) as ``order_col`` so true ties never
    occur. Rows not NEWER than the stored row for their key are
    dropped (so an
    out-of-order micro-batch or an at-least-once REPLAY cannot regress
    a row — replayed rows tie with what they already wrote and filter
    out, which is what makes ``foreachBatch``'s at-least-once contract
    effectively-once here), and the survivors MERGE through the
    NULL-safe, partition-pruned upsert. NULL ``order_col`` values are
    treated as older-than-everything. Keys must be non-null in the
    CHANGE stream (the stored-row comparison joins on plain key
    equality; the batch upsert underneath would handle NULL keys, the
    newer-than filter here would not — documented limit).

    At scale each micro-batch pays one column-pruned read of the
    stored keys' order values plus the upsert's affected-partition
    rewrite — the same shape every table-format streaming MERGE pays.
    ``stats_path`` forwards to the batch upsert: the persisted
    zone-map index (bootstrapped once — ``layout.maintain_file_stats``
    with ``cols=``) refreshes under the same writer claim after every
    micro-batch's merge; ``stats_glob`` must match the bootstrap glob.
    """
    import os as _os

    from big_data_hadoop_spark.sources.io import (
        _recover_generation,
        upsert_parquet,
    )

    key_cols = list(key_cols)
    if order_col in key_cols:
        raise ValueError("order_col cannot be a key column")
    missing = [
        c for c in [*key_cols, order_col] if c not in stream.columns
    ]
    if missing:
        # fail at wiring time, not inside the first micro-batch after
        # the checkpoint directory already exists (review finding)
        raise ValueError(
            f"stream lacks columns {missing}; has {stream.columns}"
        )
    if "_cdc_cur" in stream.columns:
        raise ValueError(
            "streaming_upsert reserves the column name '_cdc_cur'"
        )

    def fold(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # a crash inside the upsert's swap leaves only path+'.old'; the
        # exists() probe below would then SKIP the newer-than filter and
        # let a replayed older row regress the recovered table (review
        # finding) — recover BEFORE looking
        _recover_generation(path)
        cols = batch.columns
        rest = [c for c in cols if c not in key_cols]
        null_key = None
        for k in key_cols:
            t = F.col(k).isNull()
            null_key = t if null_key is None else null_key | t
        if batch.filter(null_key).limit(1).count():
            # the newer-than join below is plain-equality; a NULL key
            # would bypass it and regress the stored row (review
            # finding) — refuse loudly like the batch API does
            raise ValueError(
                "streaming_upsert: NULL key values in the change stream"
            )
        latest = (
            batch.groupBy(*key_cols)
            .agg(
                F.max(
                    F.struct(
                        F.col(order_col),
                        *[F.col(c) for c in rest if c != order_col],
                    )
                ).alias("_s")
            )
            .select(
                *key_cols,
                *[F.col(f"_s.{c}").alias(c) for c in rest],
            )
            .select(*cols)
        )
        if _os.path.exists(path):
            stored = spark.read.parquet(path).select(
                *key_cols, F.col(order_col).alias("_cdc_cur")
            )
            latest = (
                latest.join(stored, key_cols, "left")
                .filter(
                    F.col("_cdc_cur").isNull()
                    | (F.col(order_col) > F.col("_cdc_cur"))
                )
                # a stored table that is not key-unique (foreign
                # writer / corruption) fans the join out; collapse the
                # identical copies so they can't persist as duplicate
                # rows past validate_keys=False (review finding)
                .dropDuplicates(key_cols)
                .drop("_cdc_cur")
                .select(*cols)
            )
        # evaluated up to four times downstream (isEmpty, the upsert's
        # partition collect + moved-keys scan + merge write) — pin it
        # once (review finding)
        latest = latest.localCheckpoint(eager=True)
        if latest.isEmpty():
            return
        upsert_parquet(
            spark,
            path,
            latest,
            key_cols,
            partition_cols=partition_cols,
            validate_keys=False,
            stats_path=stats_path,
            stats_glob=stats_glob,
        )

    return _start_foreach(stream, fold, checkpoint, available_now)


def _start_foreach(
    stream: DataFrame, fold, checkpoint: str, available_now: bool
):
    """Start ``fold`` as the stream's ``foreachBatch`` sink — the
    writer shared by the CDC upsert and the store sinks."""
    writer = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _append_sink_stats(
    spark: SparkSession, stats_path: str, epoch: int, stats: dict
) -> None:
    """Append one ``(epoch, stats)`` row to a store sink's health log
    (round-12: streaming parity for the batch verbs' stats surface —
    occupancy, drift, zero-norm/rejected counts, boundary_frac...
    whatever the refresh verb returned, as one sorted-key JSON string,
    so the log's schema never churns as stores grow diagnostics).

    This is an ATTEMPT log, not state: it is written after the store
    commit succeeds, so a crash between commit and log loses at most
    one row, and a replayed micro-batch appends a NEW row (its
    ``drop_known`` rerun legitimately reports ``accepted: 0``) — the
    honest per-attempt health record. One tiny file per micro-batch:
    a health log's write volume is metadata-sized next to the store
    appends it describes."""
    import json

    from big_data_hadoop_spark.sources.io import local_frame

    local_frame(
        spark,
        [(int(epoch), json.dumps(stats, sort_keys=True))],
        "epoch long, stats string",
    ).coalesce(1).write.mode("append").parquet(stats_path)


def _pinned_columns(
    frame: DataFrame, cols, what: str, shape: str
) -> DataFrame:
    """``frame`` unchanged if it carries the store's pinned ``cols``;
    otherwise a refusal naming what is missing (at the sink, not as a
    raw unresolved-column error deep inside the store's accept fold)."""
    missing = [c for c in cols if c not in frame.columns]
    if missing:
        raise ValueError(
            f"{what} columns {frame.columns} — the store's pinned "
            f"column(s) {missing} are missing; return {shape} frame "
            "matching the store's meta"
        )
    return frame


def _store_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    refresh,
    transform,
    available_now: bool,
    stats_path: str | None,
):
    """The ONE fold behind the four store sinks: per non-empty
    micro-batch, ``transform`` turns the raw rows into the store's
    batch (column check, in-batch ``dropDuplicates`` — same-id rows in
    a stream are replays of the same immutable item — and, for
    decode- or model-backed frames, the eager checkpoint that lets the
    store's validation, known-id check and accept fold share ONE
    execution of the upstream), then ``refresh`` appends it.

    Effectively-once on an at-least-once channel: ``foreachBatch`` can
    REPLAY a micro-batch after a crash, and the store's known-id
    refusal would kill the stream on the replayed rows; each
    micro-batch therefore refreshes with ``drop_known=True`` — the
    store drops already-ingested ids INSIDE its writer claim (a replay
    of a committed batch refreshes nothing; a replay of a CRASHED
    refresh re-runs it in the same slot, because the meta commit is
    atomic and nothing was committed; a row an earlier batch REJECTED
    is judged again by the same history and rejected again). Doing
    that dedup fold-side, outside the lock, would be a TOCTOU — a
    concurrent backfill committing overlapping ids between the check
    and the refresh turns the refusal into a stream-killing surprise.
    ``validate_ids=False`` is redundant after the ``dropDuplicates``;
    NULL ids still refuse loudly (a silent drop would hide a broken id
    pipeline upstream). ``stats_path`` (optional) appends each
    micro-batch's refresh stats as an ``(epoch, stats json)``
    health-log row (:func:`_append_sink_stats`)."""

    def fold(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        st = refresh(
            spark, transform(batch), path, drop_known=True,
            validate_ids=False,
        )
        if stats_path is not None:
            _append_sink_stats(spark, stats_path, epoch, st)

    return _start_foreach(stream, fold, checkpoint, available_now)


def streaming_neardup_graph(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
    stats_path: str | None = None,
):
    """Continuous maintenance of the persisted near-dup pair graph
    (``operators.neardup_graph``): a document stream refreshes the
    store per micro-batch — the streaming twin of per-ingest
    ``neardup_graph_refresh``, so "the graph is always current" costs
    one batch-sized increment per trigger instead of a scheduled
    corpus-wide rebuild. Effectively-once on an at-least-once channel
    (the shared store-sink fold, :func:`_store_sink`); within a
    micro-batch, duplicate ids collapse to one arbitrary row.

    The store must exist (``neardup_graph_build``) BEFORE wiring —
    checked here, at wiring time, not inside the first micro-batch
    after the checkpoint directory already exists. Parameters
    (n-gram, permutations, bands, threshold, column names) come from
    the store's meta, so the stream cannot silently redefine
    "duplicate" mid-history. Per micro-batch cost: one pass over the
    batch text (signatures) + the band join against stored history —
    the refresh scale shape, unchanged. ``stats_path``: see
    :func:`_store_sink`."""
    from big_data_hadoop_spark.operators.neardup_graph import (
        neardup_graph_refresh,
    )
    from big_data_hadoop_spark.sources import batch_store

    meta = batch_store.read_meta(path, "neardup_graph_build")
    id_col, text_col = meta["id_col"], meta["text_col"]
    missing = [c for c in (id_col, text_col) if c not in stream.columns]
    if missing:
        raise ValueError(
            f"stream lacks the store's columns {missing}; has "
            f"{stream.columns}"
        )
    return _store_sink(
        stream, path, checkpoint, neardup_graph_refresh,
        lambda b: b.select(id_col, text_col).dropDuplicates([id_col]),
        available_now, stats_path,
    )


def streaming_video_dedup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    frame_hashes,
    available_now: bool = True,
    stats_path: str | None = None,
):
    """Continuous NEAR-dup video dedup against a persisted frame-hash
    store (``operators.framehash_store``) — the round-10 completion of
    the store-sink family (graph / fingerprint / this): each
    micro-batch is frame-hashed by the caller-supplied ``frame_hashes``
    callable (a batch ``DataFrame -> (id, frame_no, dhash)`` frame —
    typically ``video_dhash`` with the production sampling parameters;
    keeping the sampling choice OUT of the sink mirrors
    ``streaming_fingerprint_dedup``'s tier-agnostic contract) and
    refreshed into the store, which accepts only clips matching
    nothing already accepted at the store's pinned (radius, min
    matching frames, blank-frame rule). The store IS the output: its
    clip-id set is the surviving catalog, queryable mid-stream via
    ``framehash_store_load``.

    Effectively-once on an at-least-once channel (:func:`_store_sink`);
    within a micro-batch, duplicate ``(id, frame_no)`` rows collapse
    to one arbitrary row. The store must exist (``framehash_store_build``) BEFORE wiring —
    checked here at wiring time, with the callable's output columns
    validated per batch against the store's pinned id column (the
    ``streaming_fingerprint_dedup`` fp_col lesson, applied from birth).

    Per micro-batch cost: one decode/hash pass over the batch's clips
    (the only heavy work — payloads never shuffle), one multi-index
    band join of the batch's distinct frame-hash values against the
    stored history's, one within-batch pair join, one immutable
    directory append."""
    from big_data_hadoop_spark.operators.framehash_store import (
        framehash_store_refresh,
    )
    from big_data_hadoop_spark.sources import batch_store

    meta = batch_store.read_meta(path, "framehash_store_build")
    key = [meta["id_col"], "frame_no"]

    def transform(batch: DataFrame) -> DataFrame:
        fh = _pinned_columns(
            frame_hashes(batch), [*key, "dhash"],
            "frame_hashes callable returned", "an (id, frame_no, dhash)",
        )
        return fh.dropDuplicates(key).localCheckpoint(eager=True)

    return _store_sink(
        stream, path, checkpoint, framehash_store_refresh, transform,
        available_now, stats_path,
    )


def streaming_embedding_dedup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    embeddings=None,
    available_now: bool = True,
    stats_path: str | None = None,
):
    """Continuous SEMANTIC dedup against a persisted embedding store
    (``operators.embedding_store``) — the last store-sink in the
    family: each micro-batch is embedded by the caller-supplied
    ``embeddings`` callable (a batch ``DataFrame -> (id, vec)`` frame;
    pass ``None`` when the stream already carries the store's id and
    vector columns) and refreshed into the store, which assigns rows
    to the PINNED centroids and accepts only rows with no same-cell
    cosine match at the pinned eps. The store IS the output: its id
    set is the semantically-novel corpus, queryable mid-stream via
    ``embedding_store_load``; ``embedding_store_matches`` is the
    read-only novelty check.

    Effectively-once on an at-least-once channel (:func:`_store_sink`);
    duplicate in-batch ids collapse to one arbitrary row. The store
    must exist
    (``embedding_store_build``) BEFORE wiring — the centroids and eps
    are meta-pinned, so the stream can never move a cell boundary
    mid-history. Per micro-batch cost: one embedding/assignment pass
    over the batch (k x dim per row, no shuffle), one within-cell
    equi-join against accepted history, one immutable append."""
    from big_data_hadoop_spark.operators.embedding_store import (
        embedding_store_refresh,
    )
    from big_data_hadoop_spark.sources import batch_store

    meta = batch_store.read_meta(path, "embedding_store_build")
    id_col, vec_col = meta["id_col"], meta["vec_col"]

    def transform(batch: DataFrame) -> DataFrame:
        emb = _pinned_columns(
            embeddings(batch) if embeddings is not None else batch,
            [id_col, vec_col], "embedding frame has", "an (id, vector)",
        )
        return (
            emb.select(id_col, vec_col)
            .dropDuplicates([id_col])
            .localCheckpoint(eager=True)
        )

    return _store_sink(
        stream, path, checkpoint, embedding_store_refresh, transform,
        available_now, stats_path,
    )


def streaming_fingerprint_dedup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    fingerprint,
    available_now: bool = True,
    stats_path: str | None = None,
):
    """Continuous perceptual dedup against a persisted fingerprint
    store (``operators.fingerprint_store``): each micro-batch is
    fingerprinted by the caller-supplied ``fingerprint`` callable (a
    batch ``DataFrame -> (id, fp)`` frame — ``image_dhash``,
    ``audio_fingerprint``, or ``simhash`` with a rename; keeping the
    tier choice OUT of the sink is what lets one sink serve all three
    fingerprint families) and refreshed into the store, which accepts
    only rows farther than the store's pinned radius from everything
    already accepted. The store IS the output: its id set is the
    surviving corpus, queryable mid-stream via
    ``fingerprint_store_load``.

    Effectively-once on an at-least-once channel (:func:`_store_sink`);
    within a micro-batch, duplicate ids collapse to one arbitrary row
    before validation. The store must exist
    (``fingerprint_store_build``) BEFORE wiring — checked here at
    wiring time; the radius and column names come from its meta, so
    the stream cannot silently redefine "duplicate" mid-history.

    Per micro-batch cost: one fingerprint pass over the batch's blobs
    (the only heavy work — blobs never shuffle), one multi-index band
    join against stored DISTINCT fingerprint values (8 bytes per past
    blob), one within-batch pair join, one immutable directory append.
    """
    from big_data_hadoop_spark.operators.fingerprint_store import (
        fingerprint_store_refresh,
    )
    from big_data_hadoop_spark.sources import batch_store

    meta = batch_store.read_meta(path, "fingerprint_store_build")
    id_col, fp_col = meta["id_col"], meta["fp_col"]

    def transform(batch: DataFrame) -> DataFrame:
        # BOTH pinned columns: a callable returning the right id but a
        # differently-named fingerprint column would otherwise die
        # inside the accept fold with a raw unresolved-column error
        fp = _pinned_columns(
            fingerprint(batch), [id_col, fp_col],
            "fingerprint callable returned", "an (id, fp)",
        )
        return fp.dropDuplicates([id_col]).localCheckpoint(eager=True)

    return _store_sink(
        stream, path, checkpoint, fingerprint_store_refresh, transform,
        available_now, stats_path,
    )
