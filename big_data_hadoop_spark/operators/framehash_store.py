"""Persisted, incrementally-maintained frame-hash store — managed
incremental NEAR-dup dedup for video clips (the round-10 completion of
the store family: near-dup pair graph r03, single-value fingerprint
store r06, and — here — the multi-row-per-id history the video tier
needs).

THE PROBLEM THIS SOLVES: the fingerprint store's one-8-byte-fp-per-id
shape covers exact video dedup (``video_clip_fingerprint`` at radius 0)
but cannot hold the frame-hash history ``video_matches_against``
consumes — a clip's identity under near-dup matching is its SET of
sampled frame hashes (``n_frames`` rows per clip), and "duplicate"
means >= ``min_matching_frames`` frame pairs within the Hamming radius
against ONE stored clip. Without a managed store, every caller
re-invents an append-a-parquet frame-hash history with none of the
engine's crash/replay discipline. This store gives that history the
shared immutable-batch lifecycle (``sources/batch_store.py`` — this
module supplies only the family's hooks, :data:`FAMILY`): built once,
appended per batch under the writer lock, atomic meta commit,
replay-safe known-id drops.

DEDUP SEMANTICS — greedy keep-first by ARRIVAL at clip granularity
(the fingerprint store's contract, one tier up):

* a batch clip matching ANY single stored clip (>= the pinned
  ``min_matching_frames`` distinct frame pairs within ``max_hamming``
  bits — the ``video_matches_against`` rule) is REJECTED;
* survivors near-dedup WITHIN the batch: ``video_neardup_pairs`` at
  the same parameters, connected components, keep the MINIMUM clip id
  per component;
* the accepted clips' frame rows append as a new immutable batch.

``drop_constant`` (pinned in meta) applies on BOTH matching sides —
content-free dHash-0 frames (blanks, fades) neither match nor are
matched — but accepted clips' frame rows are stored UNFILTERED: the
stored history is the clip's full sampled identity, and the filter is
a matching-time rule.

Invariant (pinned in ``tests/test_framehash_store.py`` against a
pure-Python union-find replication): no two STORED clips match at the
pinned parameters. As with every greedy incremental dedup, WHICH clip
of a near-dup family survives depends on arrival order and batch
boundaries — disclosed, not hidden.

NULL/degenerate handling: NULL clip ids refuse loudly; duplicate
``(id, frame_no)`` rows within a batch refuse loudly (two hashes for
one sampled frame is a chimera clip — the signature-store hazard
class); a clip absent from the frame table entirely (undecodable
payload upstream) was already disclosed as a drop by the decode tier.

100 TB shape: history is ``n_frames`` longs per accepted clip (payload
bytes never enter the store); the history match and the within-batch
pairs are the shared multi-index Hamming band joins over DISTINCT
frame-hash values; refresh appends one immutable directory, rewrites
nothing, readers never see a swap window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.dedup import dedup_by_clusters
from big_data_hadoop_spark.operators.videohash import (
    video_matches_against,
    video_neardup_pairs,
)
from big_data_hadoop_spark.sources import batch_store


def _validate(fh: DataFrame, meta: dict, check_dups: bool):
    """NULL-clip-id refusal, duplicate-(clip, frame_no) refusal, and
    the emptiness probe in ONE aggregation job → ``(fh, ROW count)``
    (frame rows, not clips). Two hash rows for one (clip, frame_no)
    would store a chimera clip whose identity matches neither
    source."""
    id_col = meta["id_col"]
    # distinct over a STRUCT, not count_distinct(id, frame_no): the
    # multi-argument form drops rows where ANY argument is NULL, so a
    # legitimate NULL frame_no would be spuriously refused as a
    # duplicate — while (id, NULL) pairs seen twice still are
    row = batch_store.refuse_bad_ids(
        fh, id_col, "clip ids in the frame-hash batch",
        f"duplicate ({id_col}, frame_no) rows within the batch — two "
        "hashes for one sampled frame make a chimera clip",
        check_dups, key=F.struct(F.col(id_col), F.col("frame_no")),
    )
    return fh, row["n"]


def _accept(fh: DataFrame, n: int, prior, meta: dict, stats: dict):
    """The clip-granularity dedup fold: reject history matches
    (counted), within-batch cluster dedup (counted) → the accepted
    clips' FULL frame rows, eagerly checkpointed, and the accepted
    CLIP count (already paid for by the stats bookkeeping)."""
    id_col = meta["id_col"]
    # pre-round-10 stores have no max_frame_df key: None (the pure
    # contract), exactly what they were built under
    rule = dict(
        max_hamming=meta["max_hamming"],
        min_matching_frames=meta["min_matching_frames"],
        id_col=id_col,
        drop_constant=meta["drop_constant"],
        max_frame_df=meta.get("max_frame_df"),
    )
    # ONE execution of the caller's (possibly decode-backed) upstream
    norm = fh.select(
        F.col(id_col),
        F.col("frame_no").cast("int").alias("frame_no"),
        F.col("dhash").cast("long").alias("dhash"),
    ).localCheckpoint(eager=True)
    n_in = norm.select(id_col).distinct().count()
    stats["clips_in"] = n_in
    if prior is not None:
        hits = video_matches_against(norm, prior, **rule).localCheckpoint(
            eager=True
        )
        fresh = norm.join(hits, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        n_fresh = fresh.select(id_col).distinct().count()
    else:
        fresh = norm
        n_fresh = n_in
    stats["rejected_history"] = n_in - n_fresh
    pairs = video_neardup_pairs(fresh, **rule).select("id_a", "id_b")
    clips = fresh.select(id_col).distinct()
    keep = dedup_by_clusters(clips, pairs, id_col=id_col)
    accepted = fresh.join(
        keep.select(id_col), id_col, "semi"
    ).localCheckpoint(eager=True)
    n_clips = accepted.select(id_col).distinct().count()
    stats["accepted"] = n_clips
    stats["rejected_within_batch"] = n_fresh - n_clips
    return {"fh": accepted}, n_clips


FAMILY = batch_store.Family(
    hint="framehash_store_build",
    noun="a frame-hash store",
    kinds={"fh": "frame_rows"},
    validate=_validate,
    accept=_accept,
    known=(
        "refresh batch contains clip ids already accepted into the "
        "store at {path} — re-ingesting a clip would re-litigate its "
        "dedup fate; pass drop_known=True to skip known ids (the "
        "streaming/replay mode)"
    ),
    empty={"accepted": 0},
)


def framehash_store_build(
    spark: SparkSession,
    fh: DataFrame,
    path: str,
    max_hamming: int = 1,
    min_matching_frames: int = 2,
    drop_constant: bool = True,
    max_frame_df: int | None = None,
    id_col: str = "media_id",
    validate_ids: bool = True,
    family: str | None = None,
    extras: dict | None = None,
) -> dict:
    """One-shot creation at ``path`` from a frame-hash frame
    (``(id_col, frame_no, dhash)`` — the ``video_dhash`` output) →
    stats ``{"batch": 0, "accepted": n, "clips_in": k,
    "rejected_within_batch": m, "rejected_history": 0}`` (counts are
    CLIPS, not rows). Refuses if a store already exists; the matching
    parameters are pinned in meta for the store's lifetime — a batch
    judged under different (radius, min frames, blank-frame rule)
    would silently change what "duplicate" means mid-history.
    ``family``/``extras`` are surface-level labels pinned alongside
    (the fingerprint store's contract): a surface that FRAME-HASHES on
    the caller's behalf (the CLI) validates its tier flag against
    ``family`` and reads its sampling parameters (``n_frames``) back
    from ``extras`` on refresh — mixed sampling in one history would
    silently change clip identities."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("max_hamming must be in 0..3 (4x16-bit banding)")
    if min_matching_frames < 1:
        raise ValueError("min_matching_frames must be >= 1")
    if max_frame_df is not None and max_frame_df < 1:
        raise ValueError("max_frame_df must be >= 1 (or None)")
    meta = {
        "version": 1,
        "max_hamming": int(max_hamming),
        "min_matching_frames": int(min_matching_frames),
        "drop_constant": bool(drop_constant),
        "max_frame_df": (
            int(max_frame_df) if max_frame_df is not None else None
        ),
        "id_col": id_col,
        "family": family,
        "extras": dict(extras or {}),
    }
    return batch_store.create(spark, FAMILY, fh, path, meta, validate_ids)


def framehash_store_refresh(
    spark: SparkSession,
    fh: DataFrame,
    path: str,
    drop_known: bool = False,
    validate_ids: bool = True,
) -> dict:
    """Append one clip batch: reject clips matching the stored
    frame-hash history (``video_matches_against`` — payloads never
    ship, ``n_frames`` longs per past clip), near-dedup the survivors
    within the batch, commit the accepted clips' frame rows as a new
    immutable directory → stats (clip counts). Parameters come from
    the store's meta.

    Clip ids must be NEW: a re-ingested id refuses loudly by default;
    ``drop_known=True`` instead drops already-ACCEPTED clip ids INSIDE
    the writer claim — the replay-safe streaming mode (a clip REJECTED
    earlier is simply judged again by the same history and rejected
    again — idempotent either way). An empty or fully-rejected batch
    commits no slot (``batch: None``).

    Input frames backed by EXPENSIVE upstreams (media decode, model
    scoring) should be eagerly localCheckpointed by the caller: the
    validation probe, the known-id check and the accept fold each
    reference the frame before its internal checkpoint, so an
    un-materialized decode lineage executes more than once (the CLI
    tier builders do this)."""
    return batch_store.append(
        spark, FAMILY, fh, path, drop_known=drop_known,
        validate_ids=validate_ids,
    )


def framehash_store_load(spark: SparkSession, path: str) -> DataFrame:
    """The accepted frame-hash table → ``(id_col, frame_no, dhash)``
    as built: the ``stored_fh`` input for
    ``video_matches_against`` and the surviving-clip identity set of
    the whole ingest history. Reads only committed immutable
    directories — no swap window, no retry."""
    return batch_store.load(spark, FAMILY, path)


def framehash_store_matches(
    spark: SparkSession, fh: DataFrame, path: str
) -> DataFrame:
    """Read-only novelty check (the store-family `matches` verb): clip
    ids of ``fh`` (``(id_col, frame_no, dhash)``) that WOULD be
    rejected against the stored history right now, under the store's
    pinned (radius, min matching frames, blank-frame, boilerplate-
    valve) parameters. No writer claim, no mutation."""
    meta = batch_store.read_meta(path, FAMILY.hint)
    return video_matches_against(
        fh,
        framehash_store_load(spark, path),
        max_hamming=meta["max_hamming"],
        min_matching_frames=meta["min_matching_frames"],
        id_col=meta["id_col"],
        drop_constant=meta["drop_constant"],
        max_frame_df=meta.get("max_frame_df"),
    )


def framehash_store_compact(spark: SparkSession, path: str) -> dict:
    """Fold all committed batch directories into one slot →
    ``{"batches_before": k, "frame_rows": n}`` (shared protocol;
    crash leaves the previous generation readable, orphans go to
    :func:`framehash_store_vacuum`)."""
    return batch_store.compact(spark, FAMILY, path)


def framehash_store_vacuum(
    path: str, grace_seconds: float = 86400.0
) -> dict:
    """Sweep unreferenced batch directories after the grace window →
    ``{"removed": n, "kept": m}`` (shared protocol)."""
    return batch_store.vacuum(FAMILY, path, grace_seconds)
