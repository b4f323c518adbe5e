"""Perceptual video near-dup tier: per-frame dHash over real animation
decode, clip-level matching on frame-hash agreement.

Completes the perceptual trilogy (``imagehash`` r04 / ``audiohash``
r05 / this, r07): a video-dedup stage matches clips that share visual
CONTENT even when container bytes differ (re-mux, trim, palette
tweak) — a byte digest can't see that, and a single-thumbnail dHash
misses clips whose first frames differ. The standard shape in the
public literature (frame-sampled perceptual hashing, e.g. the pHash
video family): sample N frames evenly across the clip, hash each
frame, and call two clips near-dups when enough of their frame hashes
agree within a Hamming radius.

REAL CODEC PATH: animated GIFs decode fully — composited per the
GIF89a rendering model (offsets, transparency, disposal; see
``multimodal.decode_gif_frames``) in pure Python/numpy. Codec-needing
containers (MP4 etc. — no libraries in this environment) yield NO
frame rows, the disclosed-drop contract: an ffmpeg-backed sampler
swaps in with the identical output schema.

FIXED CONTRACT (replicated in ``tests/test_videohash.py``):

* frames = ``decode_gif_frames(payload, max_frames)`` (composited,
  screen-sized);
* sampling: ``n_frames`` evenly by pixel-center index —
  ``frame[floor((i + 0.5) * len(frames) / n)]`` for ``i in 0..n-1``
  (the dHash resize rule, one dimension up); clips with fewer frames
  than ``n_frames`` sample with repetition (a still GIF is N copies
  of its one frame — it still matches a re-encode of itself);
* each sampled frame hashes with ``imagehash.dhash_pixels`` — one
  ``(media_id, frame_no, dhash)`` row per sample;
* two clips match at ``(max_hamming, min_matching_frames)`` when at
  least ``min_matching_frames`` DISTINCT sampled-frame pairs
  ``(frame_no_a, frame_no_b)`` lie within the radius.

Scale shape: the decode pass is one partition-preserving Arrow
``mapInPandas`` (blobs never shuffle; ``n_frames`` 8-byte hashes leave
per clip); candidate frame pairs come from the shared multi-index
Hamming band join over DISTINCT hash values
(``dedup._hamming_value_pairs``, the round-9 exhibit machinery) keyed on a ``(clip, frame)`` struct id;
the clip-pair rollup is one keyed aggregation of the frame-pair
relation. Nothing is all-pairs in clip space — only clips sharing a
banded frame-hash chunk ever meet.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_hadoop_spark.operators.dedup import (
    _check_radius,
    _hamming_value_pairs,
    _simhash_pairs_given_fps,
)
from big_data_hadoop_spark.operators.imagehash import dhash_pixels
from big_data_hadoop_spark.operators.multimodal import decode_gif_frames

VIDEO_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def video_dhash(
    df: DataFrame,
    n_frames: int = 8,
    max_frames: int = 64,
    id_col: str = "media_id",
) -> DataFrame:
    """Per-clip sampled frame fingerprints for a binary media frame
    (the ``MEDIA_SCHEMA`` shape) → ``(media_id, frame_no, dhash)``,
    ``n_frames`` rows per decodable clip, ZERO rows for undecodable
    payloads (disclosed drop — join ``binary_meta`` for presence)."""
    if n_frames < 1:
        raise ValueError("n_frames must be >= 1")

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p) if p is not None else b""
                try:
                    frames = decode_gif_frames(raw, max_frames=max_frames)
                except Exception:
                    # broad: corrupt payloads raise struct/Value/Index
                    # errors from inside the decoder; one dirty blob
                    # yields no rows, never kills the stage
                    continue
                k = len(frames)
                for i in range(n_frames):
                    src = int((i + 0.5) * k / n_frames)
                    rows.append((mid, i, dhash_pixels(frames[src])))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["media_id", "frame_no", "dhash"]
                )

    return df.select(F.col(id_col).alias("media_id"), "payload").mapInPandas(
        _fp, schema=VIDEO_DHASH_SCHEMA
    )


def _drop_hot_frames(
    fh: DataFrame, max_frame_df: int, id_col: str
) -> DataFrame:
    """Boilerplate-frame valve (the BM25 ``max_df`` pattern, round
    10): drop frame-hash VALUES appearing in more than ``max_frame_df``
    distinct clips. ``drop_constant`` kills dHash-0 blanks, but a
    NON-blank frame shared corpus-wide — an intro card, an outro
    slate, a channel watermark frame — carries no clip identity
    either, and in pair space it manufactures output quadratic in its
    clip count (every pair of clips sharing TWO such frames "matches").
    One keyed count over the frame rows; the dropped values are
    content-free by construction, a disclosed drop like the blank
    filter."""
    hot = (
        fh.groupBy("dhash")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > int(max_frame_df))
        .select("dhash")
    )
    return fh.join(hot, "dhash", "left_anti")


def video_neardup_pairs(
    fh: DataFrame,
    max_hamming: int = 2,
    min_matching_frames: int = 2,
    id_col: str = "media_id",
    drop_constant: bool = False,
    max_frame_df: int | None = None,
) -> DataFrame:
    """Clip-level near-dup pairs from precomputed frame hashes →
    ``(id_a, id_b, n_frame_matches, min_hamming)``, ``id_a < id_b``,
    keeping pairs with at least ``min_matching_frames`` distinct
    matched ``(frame_no_a, frame_no_b)`` combinations within the
    radius. The frame-pair join is the shared multi-index banding
    keyed on a ``(clip, frame)`` struct (struct ordering is
    lexicographic, so the canonical ``id_a < id_b`` carries through);
    within-clip matches are dropped (a clip always matches itself).

    ``drop_constant`` excludes CONSTANT frames (dHash 0 — every
    gradient comparison tied: black frames, fades, test cards) from
    matching, the standard blank-frame filter in production video
    dedup: two unrelated clips sharing black lead-ins would otherwise
    "match" on content-free frames, and a popular blank hash is also a
    banding hot bucket. Off by default (the pure contract — the
    brute-force tests pin it); the r07 probe runs with it on.

    ``max_frame_df`` extends the same argument to NON-blank
    boilerplate (:func:`_drop_hot_frames`): a frame-hash value in more
    than that many distinct clips is excluded from matching — without
    it, a corpus-wide intro+outro pair makes EVERY clip pair "match"
    and the output (and the value-pair expansion join) goes quadratic
    in the corpus, the round-10 scale-hazard audit finding. ``None``
    (default) keeps the pure contract; per matched value the pair
    output is bounded by ``max_frame_df``^2."""
    _check_radius(max_hamming)
    if min_matching_frames < 1:
        raise ValueError("min_matching_frames must be >= 1")
    if max_frame_df is not None and max_frame_df < 1:
        raise ValueError("max_frame_df must be >= 1 (or None)")
    if drop_constant:
        fh = fh.filter(F.col("dhash") != 0)
    if max_frame_df is not None:
        fh = _drop_hot_frames(fh, max_frame_df, id_col)
    fp = fh.select(
        F.struct(
            F.col(id_col).alias("clip"), F.col("frame_no").alias("f")
        ).alias("cf"),
        F.col("dhash").alias("simhash"),
    )
    pairs = _simhash_pairs_given_fps(fp, max_hamming, "cf")
    return (
        pairs.filter(F.col("id_a.clip") != F.col("id_b.clip"))
        .select(
            F.least(
                F.col("id_a.clip"), F.col("id_b.clip")
            ).alias("id_a"),
            F.greatest(
                F.col("id_a.clip"), F.col("id_b.clip")
            ).alias("id_b"),
            "hamming",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_frame_matches"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("n_frame_matches") >= int(min_matching_frames))
    )


def video_dhash_pairs(
    df: DataFrame,
    n_frames: int = 8,
    max_hamming: int = 2,
    min_matching_frames: int = 2,
    id_col: str = "media_id",
) -> DataFrame:
    """Convenience composition: frame-hash + clip pairing, with the
    hash frame eagerly checkpointed so the band join's sides share one
    decode execution (the image/audio-tier discipline)."""
    _check_radius(max_hamming)  # before the decode job
    fh = video_dhash(
        df, n_frames=n_frames, id_col=id_col
    ).localCheckpoint(eager=True)
    return video_neardup_pairs(
        fh,
        max_hamming=max_hamming,
        min_matching_frames=min_matching_frames,
        id_col=id_col,
    )


def video_matches_against(
    fh: DataFrame,
    stored_fh: DataFrame,
    max_hamming: int = 2,
    min_matching_frames: int = 2,
    id_col: str = "media_id",
    drop_constant: bool = False,
    max_frame_df: int | None = None,
) -> DataFrame:
    """Incremental tier for clip NEAR-dups (the ``image_matches_against``
    symmetry; the exact tier goes through :func:`video_clip_fingerprint`
    + the fingerprint store): batch clip ids whose sampled frames match
    at least ``min_matching_frames`` distinct frame pairs of ANY single
    stored clip within the Hamming radius → one id column, distinct.
    History is the stored frame-hash table — ``n_frames`` 8-byte values
    per past clip (``(id_col, frame_no, dhash)``, the
    :func:`video_dhash` shape); payloads never ship. The frame-value
    join is the shared multi-index banding over DISTINCT hash values on
    each side, expanded back through the two frame tables output-bound,
    then one keyed rollup per (batch clip, stored clip).
    ``drop_constant`` excludes dHash-0 frames on BOTH sides (the
    :func:`video_neardup_pairs` blank-frame filter — content-free
    frames otherwise match every clip with a black lead-in);
    ``max_frame_df`` applies the boilerplate-frame valve
    (:func:`_drop_hot_frames`) to both sides INDEPENDENTLY, so per
    matched value the expansion join's output is bounded by
    ``max_frame_df`` on each side."""
    _check_radius(max_hamming)
    if min_matching_frames < 1:
        raise ValueError("min_matching_frames must be >= 1")
    if max_frame_df is not None and max_frame_df < 1:
        raise ValueError("max_frame_df must be >= 1 (or None)")
    if drop_constant:
        fh = fh.filter(F.col("dhash") != 0)
        stored_fh = stored_fh.filter(F.col("dhash") != 0)
    if max_frame_df is not None:
        fh = _drop_hot_frames(fh, max_frame_df, id_col)
        stored_fh = _drop_hot_frames(stored_fh, max_frame_df, id_col)
    new = fh.select(
        F.col(id_col).alias("_nid"),
        F.col("frame_no").alias("_nf"),
        F.col("dhash").alias("_nh"),
    ).localCheckpoint(eager=True)
    old = stored_fh.select(
        F.col(id_col).alias("_oid"),
        F.col("frame_no").alias("_of"),
        F.col("dhash").alias("_oh"),
    )
    vpairs = _hamming_value_pairs(
        new.select(F.col("_nh").alias("simhash")).distinct(),
        old.select(F.col("_oh").alias("simhash")).distinct(),
        max_hamming,
    ).select(F.col("_u").alias("_nh"), F.col("_v").alias("_oh"))
    return (
        vpairs.join(new, "_nh")
        .join(old, "_oh")
        # rows are already unique: each (clip, frame) carries ONE hash
        # and the value pairs are distinct, so no dedup shuffle here
        .select("_nid", "_oid")
        .groupBy("_nid", "_oid")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= int(min_matching_frames))
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )


def video_clip_fingerprint(
    fh: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """The EXACT tier above the near-dup pairs: one 64-bit fingerprint
    per clip — ``xxhash64`` over the clip's frame hashes in frame
    order → ``(media_id, fp)``. Two clips collide iff every sampled
    frame hashed identically (byte-level re-encodes and
    palette-preserving rewrites do; any visual change to any sampled
    frame does not), so this is the video analog of a content digest
    that survives container changes — and the single-value shape the
    persisted fingerprint store ingests (``fingerprint_store_build``
    with ``max_hamming=0`` gives exact streaming video dedup;
    near-dup matching stays with :func:`video_neardup_pairs`). One
    keyed aggregation; NULL-safe by construction (frame rows exist
    only for decoded clips)."""
    return (
        fh.groupBy(F.col(id_col))
        .agg(
            F.xxhash64(
                F.array_sort(
                    F.collect_list(F.struct("frame_no", "dhash"))
                ).cast("array<struct<frame_no:int,dhash:bigint>>")
            ).alias("fp")
        )
    )


def documents_as_video(
    df: DataFrame,
    n_frames: int = 4,
    width: int = 12,
    height: int = 12,
    id_col: str = "doc_id",
) -> DataFrame:
    """Test/probe adapter (the ``documents_as_images`` pattern): render
    each document's leading UTF-8 bytes as a real ``n_frames``-frame
    animated grayscale GIF — frame ``k`` shows byte window ``k`` of the
    text, zero-padded — so the driver testdata exercises the full
    animation-decode → frame-hash → band pipeline with a REAL codec
    end-to-end. Deterministic: equal prefixes give byte-identical
    clips. Not a production operator."""
    import numpy as np

    from big_data_hadoop_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_gif,
    )

    per_frame = width * height
    n = per_frame * n_frames

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf[id_col], pdf["text"]):
                raw = (text or "").encode("utf-8")[:n]
                buf = np.zeros(n, dtype=np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
                frames = [
                    buf[k * per_frame : (k + 1) * per_frame].reshape(
                        height, width
                    )
                    for k in range(n_frames)
                ]
                ids.append(did)
                payloads.append(encode_gif(frames))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": "image/gif",
                    "payload": payloads,
                }
            )

    return df.select(F.col(id_col), "text").mapInPandas(
        _render, schema=MEDIA_SCHEMA
    )


# Self-contained executor serialization (the multimodal.py pattern).
import sys as _sys

try:  # pragma: no cover - vendored cloudpickle without the API
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except (ImportError, AttributeError):
    pass
