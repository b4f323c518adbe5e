"""Perceptual image near-dup tier: dHash fingerprints + Hamming pairs.

Extends the engine's dedup ladder (exact / MinHash-LSH / SimHash /
PPJoin / winnow / PassJoin / substring) to IMAGE payloads — the
image-dedup stage every large multimodal training-data pipeline runs
(LAION-style corpora dedup on perceptual hashes before any embedding
work, because a byte-level digest misses re-encoded / resized / lightly
edited copies). The reference repo (pure text MapReduce, SURVEY §2) has
no analog; this composes two tiers the engine already has:

* the binary media tier (``operators.multimodal``): pure-Python/numpy
  decoders for BMP / truecolor PNG / GIF / baseline JPEG running in
  Arrow-batched ``mapInPandas`` — blobs never shuffle, one narrow
  ``(id, fingerprint)`` row leaves each image;
* the SimHash Hamming machinery (``operators.dedup``): the multi-index
  pigeonhole band join (``_fp_band_keys`` — at radius ``r`` candidates
  key on combinations of ``4-r`` whole 16-bit chunks, over DISTINCT
  fingerprint values) is fingerprint-AGNOSTIC — its exactness argument
  depends only on the fingerprint being 64 bits — so dHash pairs,
  incremental matches and dedup-against-history all reuse the exact
  joins SimHash is pinned on, and the two families cannot diverge.
  The radius-scaled keys matter MORE here than for text SimHash:
  perceptual hashes of structured corpora concentrate mass in a few
  chunks (dark images zero out whole rows of comparisons), and the
  round-9 sf1 exhibit measured the single-chunk banding going
  quadratic on exactly that skew (109s → 1.5s at 50k docs after the
  multi-index refactor, identical pair output).

dHash (difference hash) is the public gradient fingerprint from the
perceptual-hashing literature (Krawetz, "Kind of Like That", 2013; the
``imagehash`` library's dhash): grayscale, shrink to 9×8, emit one bit
per horizontally adjacent pixel pair — 8 rows × 8 comparisons = 64 bits
that survive re-encoding, uniform brightness shifts (a constant offset
never flips a ``<`` comparison) and small local edits, while byte
digests don't. FIXED CONTRACT, replicated bit-for-bit by the pure-numpy
oracle in ``tests/test_imagehash.py``:

* grayscale = Rec.601 luma in float64 (same weights as
  ``extract_image_features``);
* shrink = nearest-neighbor at PIXEL CENTERS: source index for output
  cell ``i`` of ``n`` over extent ``s`` is ``floor((i + 0.5) * s / n)``
  (deterministic, library-free; upsamples small images by repetition);
* bit ``r*8 + c`` (LSB order, matching SimHash's packing) is 1 iff
  ``gray[r, c+1] > gray[r, c]`` — strict, ties → 0; a constant image
  hashes to 0;
* the 64-bit value is stored as a SIGNED long (two's complement), the
  same representation ``simhash`` uses, so all downstream bit ops are
  shared.

Undecodable payloads (codec-needing formats, corrupt bytes) yield a
NULL fingerprint — disclosed drop, never a fabricated hash — and NULL
fingerprints can't pair (a NULL chunk value never equi-joins; the pair
functions also filter them explicitly so the drop is visible in the
plan, the engine's NULL contract).

Scale shape: fingerprinting is one partition-preserving ``mapInPandas``
pass (the only Python on the path — vectorized numpy per image, the
declared slow-path exemption multimodal decode already holds, since no
built-in expression decodes pixels); everything after is the narrow
64-bit fingerprint relation — the banded pair join shuffles 8-byte
chunk keys, never pixels. Incremental dedup against a stored
fingerprint history ships ONE long per past image (the q93 SimHash
posture, unchanged).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_hadoop_spark.operators.dedup import (
    _check_radius,
    _simhash_pairs_given_fps,
    simhash_matches_against,
)
from big_data_hadoop_spark.operators.multimodal import (
    _decode_jpeg_sniffed,
    decode_bmp,
    decode_gif,
    decode_png,
    encode_bmp,
)

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def dhash_pixels(arr: "np.ndarray") -> int:
    """The 64-bit dHash of an RGB uint8 array ``(h, w, 3)`` as a SIGNED
    Python int — the module-docstring contract, shared by the batch
    fingerprinter and anything driver-side (tests replicate it
    independently rather than calling this)."""
    a = arr.astype(np.float64)
    gray = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    h, w = gray.shape
    ri = ((np.arange(8) + 0.5) * h / 8).astype(np.int64)
    ci = ((np.arange(9) + 0.5) * w / 9).astype(np.int64)
    g = gray[ri][:, ci]
    bits = g[:, 1:] > g[:, :-1]  # (8, 8): right strictly brighter
    v = 0
    for r in range(8):
        for c in range(8):
            if bits[r, c]:
                v |= 1 << (r * 8 + c)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def image_dhash(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Perceptual fingerprints for a binary media frame (the
    ``MEDIA_SCHEMA`` shape: ``id_col`` + ``payload``) →
    ``(media_id, dhash bigint)``, NULL for undecodable payloads.

    Decoder chain matches ``extract_image_features`` (BMP, truecolor
    PNG, GIF first-frame, baseline JPEG); the broad per-image except is
    the same disclosed policy — one corrupt blob yields a NULL row,
    never aborts the stage. Partition-preserving: blobs are read where
    they sit and only ``(id, 8 bytes)`` continues downstream."""

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p) if p is not None else b""
                fp = None
                for decoder in (
                    decode_bmp,
                    lambda r: decode_png(r)[..., :3],
                    decode_gif,
                    _decode_jpeg_sniffed,
                ):
                    # broad except: corrupt payloads raise zlib/struct/
                    # Index/Key errors from deep inside decoders — one
                    # dirty blob must yield NULL, never kill the stage
                    try:
                        fp = dhash_pixels(decoder(raw))
                        break
                    except Exception:
                        continue
                ids.append(mid)
                fps.append(fp)
            yield pd.DataFrame({"media_id": ids, "dhash": fps}).astype(
                {"media_id": "int64"}
            )

    return df.select(F.col(id_col).alias("media_id"), "payload").mapInPandas(
        _fp, schema=DHASH_SCHEMA
    )


def image_neardup_pairs(
    fp: DataFrame, max_hamming: int = 3, id_col: str = "media_id"
) -> DataFrame:
    """Near-duplicate image pairs from precomputed dHashes →
    ``(id_a, id_b, hamming)``, ``id_a < id_b``, Hamming <=
    ``max_hamming``. Delegates to the shared multi-index band join
    (``dedup.py``) — radius-scaled chunk-combination keys over distinct
    fingerprint values, exact for radius <= 3, never all-pairs. NULL
    fingerprints (undecodable images) are filtered before banding.
    NOT lazy: the shared join eagerly checkpoints the fingerprints at
    call time (both sides must share one upstream execution), and it
    requires rows unique per (id, fingerprint) — true for every
    fingerprint producer (one hash per media id)."""
    _check_radius(max_hamming)
    fps = fp.filter(F.col("dhash").isNotNull()).select(
        F.col(id_col), F.col("dhash").alias("simhash")
    )
    return _simhash_pairs_given_fps(fps, max_hamming, id_col)


def image_dhash_pairs(
    df: DataFrame, max_hamming: int = 3, id_col: str = "media_id"
) -> DataFrame:
    """Convenience composition: fingerprint + pair in one call. The
    fingerprints are eagerly checkpointed first — the band join
    references them on BOTH sides, and without materialization the
    decode ``mapInPandas`` (the expensive stage) executes once per
    side (the upstream-re-execution shape LPA/BFS/copurchase guard
    against; verified by MapInPandas node count in the executed
    plan). ``image_neardup_pairs`` stays lazy by contrast: its input
    is typically a stored fingerprint table, where a double scan is
    two cheap column-pruned parquet reads."""
    _check_radius(max_hamming)  # before the decode job
    fp = image_dhash(df, id_col=id_col).localCheckpoint(eager=True)
    return image_neardup_pairs(fp, max_hamming=max_hamming, id_col=id_col)


def image_matches_against(
    fp: DataFrame,
    stored_fps: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
) -> DataFrame:
    """Incremental tier: the batch ids whose dHash lies within
    ``max_hamming`` bits of ANY stored history fingerprint (one id
    column, distinct — the ``simhash_matches_against`` contract it
    delegates to). History is ONE long per past image — a ``dhash``
    column, id optional and ignored (the q93 fixed-size-state
    posture); the banded join ships 2-byte chunk keys, never payloads.
    The band geometry doesn't care which 64-bit fingerprint family it
    keys on, so the SimHash join is reused unchanged."""
    _check_radius(max_hamming)
    batch = fp.filter(F.col("dhash").isNotNull()).select(
        F.col(id_col), F.col("dhash").alias("simhash")
    )
    prior = stored_fps.filter(F.col("dhash").isNotNull()).select(
        F.col("dhash").alias("simhash")
    )
    return simhash_matches_against(
        batch, prior, max_hamming=max_hamming, id_col=id_col
    )


def documents_as_images(
    df: DataFrame, width: int = 16, height: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Test/probe adapter (the ``documents_as_media`` pattern): render
    each document's leading UTF-8 bytes as a real ``width``×``height``
    24-bit BMP — bytes fill the RGB raster row-major, zero-padded — so
    the driver testdata can exercise the full decode → hash → band
    pipeline with REAL codecs end-to-end. Deterministic: equal text
    prefixes yield byte-identical BMPs (Hamming 0); small edits
    perturb few raster cells (small Hamming) — exactly the recall
    structure perceptual dedup exists for. Not a production operator:
    production feeds actual image payloads."""
    n = width * height * 3

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf[id_col], pdf["text"]):
                raw = (text or "").encode("utf-8")[:n]
                buf = np.zeros(n, dtype=np.uint8)
                buf[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
                ids.append(did)
                payloads.append(encode_bmp(buf.reshape(height, width, 3)))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "media_type": "image/bmp",
                    "payload": payloads,
                }
            )

    from big_data_hadoop_spark.operators.multimodal import MEDIA_SCHEMA

    return df.select(F.col(id_col), "text").mapInPandas(
        _render, schema=MEDIA_SCHEMA
    )


# Self-contained executor serialization (the multimodal.py pattern): the
# mapInPandas closures reference module-level helpers; by-value pickling
# lets a fresh session drive them without the package on executors.
import sys as _sys

try:  # pragma: no cover - vendored cloudpickle without the API
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except (ImportError, AttributeError):
    pass
