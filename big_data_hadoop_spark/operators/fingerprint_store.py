"""Persisted, incrementally-maintained perceptual fingerprint store —
managed incremental near-dup DEDUP for any 64-bit fingerprint family
(image dHash, audio spectral-gradient, text SimHash).

THE PROBLEM THIS SOLVES: the incremental perceptual tiers
(``simhash_dedup_against``, ``image_matches_against``,
``audio_matches_against``) take a "stored fingerprint history" frame
and leave its maintenance to the caller — every user re-invents the
same append-a-parquet loop, with none of the engine's crash/replay
discipline (a foreachBatch replay double-appends, a killed job strands
a half-written history). This store gives the fingerprint history the
same managed lifecycle the near-dup pair graph got in round 9: built
once, appended per batch under the writer lock, immutable batch
directories with an atomic meta commit (the shared
``sources/batch_store.py`` lifecycle — this module supplies only the
family's hooks, :data:`FAMILY`), replay-safe via in-lock known-id
drops.

DEDUP SEMANTICS — greedy keep-first by ARRIVAL, the engine's
incremental contract (q64 exact / q68 minhash / q93 simhash):

* a batch row whose fingerprint lies within ``max_hamming`` bits of
  ANY stored fingerprint is REJECTED (a near-dup of something already
  accepted);
* the survivors are then near-deduped WITHIN the batch: banded pairs at
  the same radius, connected components, keep the MINIMUM id per
  component (``dedup_by_clusters``'s default — deterministic);
* accepted rows append as a new immutable batch.

Invariant (pinned by ``tests/test_fingerprint_store.py`` against a
pure-Python union-find replication): every pair of STORED fingerprints
is more than ``max_hamming`` bits apart — the store is a greedy
maximal independent set at the radius, grown in arrival order. Like
every greedy incremental dedup, WHICH member of a near-dup family
survives depends on arrival order and batch boundaries (a component
spanning two batches keeps its first batch's representative; the same
docs in one batch keep the min id) — disclosed, not hidden: the
one-shot build and a differently-batched history may keep different
representatives while both satisfying the spacing invariant.

NULL HANDLING: NULL ids refuse loudly (the engine's id contract); NULL
fingerprints (undecodable media — a normal outcome the decode tiers
disclose) are DROPPED from the batch with a count in the returned
stats, never stored: an un-fingerprintable blob can neither match nor
be matched, and storing it would silently grow dead rows.

100 TB shape: history is ONE long per accepted blob (the cheapest
possible dedup state — 8 bytes vs the graph store's ~1 KB signatures);
the history match and the within-batch pairs are the multi-index
Hamming band joins (``_fp_band_keys`` — radius-scaled keys over
DISTINCT values, measured output-bound at sf1 in the round-9 exhibit);
refresh appends one immutable directory, rewrites nothing, and a
reader never sees a swap window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.dedup import (
    _simhash_pairs_given_fps,
    dedup_by_clusters,
    simhash_matches_against,
)
from big_data_hadoop_spark.sources import batch_store


def _validate(fps: DataFrame, meta: dict, check_dups: bool):
    """NULL-id refusal, duplicate-id refusal, and the emptiness probe
    in ONE aggregation job → ``(fps, row count)``."""
    id_col = meta["id_col"]
    row = batch_store.refuse_bad_ids(
        fps, id_col, "ids in the fingerprint batch",
        f"duplicate {id_col} values within the batch — the greedy "
        "keep-first outcome for an id seen twice is undefined",
        check_dups,
    )
    return fps, row["n"]


def _accept(fps: DataFrame, n: int, prior, meta: dict, stats: dict):
    """The dedup fold: drop NULL fps (counted), reject history matches
    (counted), within-batch cluster dedup (counted) → the accepted
    ``(id_col, fp_col)`` rows, eagerly checkpointed, and their count
    (already paid for by the stats bookkeeping)."""
    max_hamming, id_col, fp_col = (
        meta["max_hamming"], meta["id_col"], meta["fp_col"]
    )
    # ONE execution of the caller's (possibly decode-backed) upstream:
    # every downstream frame — the null filter, the history match, the
    # anti-join, the within-batch pairs — reads this narrow checkpoint
    norm = fps.select(
        F.col(id_col), F.col(fp_col).alias("simhash")
    ).localCheckpoint(eager=True)
    usable = norm.filter(F.col("simhash").isNotNull())
    # one job for both totals (count(col) skips NULLs)
    row = norm.agg(
        F.count(F.lit(1)).alias("n"), F.count("simhash").alias("u")
    ).first()
    n_in, n_usable = row.n, row.u
    stats["null_fp"] = n_in - n_usable
    if prior is not None:
        hits = simhash_matches_against(
            usable,
            prior.select(F.col(fp_col).alias("simhash")),
            max_hamming=max_hamming,
            id_col=id_col,
        ).localCheckpoint(eager=True)
        fresh = usable.join(hits, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        n_fresh = fresh.count()
    else:
        fresh = usable
        n_fresh = n_usable
    stats["rejected_history"] = n_usable - n_fresh
    # Exact-fp duplicates collapse to their min-id representative
    # BEFORE the pair join: same-value rows are all pairwise Hamming 0,
    # so a value's component equals its representative's component in
    # the value-representative graph, and the component minimum equals
    # the minimum over representatives — identical greedy outcome
    # (pinned by the union-find oracle), but a batch with 50k copies of
    # one blob costs one representative instead of ~1.25e9 within-value
    # pairs that existed only to conclude "keep the min id".
    reps = fresh.groupBy("simhash").agg(F.min(id_col).alias(id_col))
    pairs = _simhash_pairs_given_fps(reps, max_hamming, id_col).select(
        "id_a", "id_b"
    )
    accepted = dedup_by_clusters(reps, pairs, id_col=id_col).localCheckpoint(
        eager=True
    )
    n_accepted = accepted.count()
    stats["accepted"] = n_accepted
    stats["rejected_within_batch"] = n_fresh - n_accepted
    return (
        {"fp": accepted.select(F.col(id_col), F.col("simhash").alias(fp_col))},
        n_accepted,
    )


FAMILY = batch_store.Family(
    hint="fingerprint_store_build",
    noun="a fingerprint store",
    kinds={"fp": "fingerprints"},
    validate=_validate,
    accept=_accept,
    known=(
        "refresh batch contains ids already accepted into the store at "
        "{path} — re-ingesting an id would re-litigate its dedup fate; "
        "pass drop_known=True to skip known ids (the streaming/replay "
        "mode)"
    ),
    empty={"accepted": 0},
)


def fingerprint_store_build(
    spark: SparkSession,
    fps: DataFrame,
    path: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
    fp_col: str = "fp",
    validate_ids: bool = True,
    family: str | None = None,
    extras: dict | None = None,
) -> dict:
    """One-shot creation at ``path`` from a fingerprint frame
    (``(id_col, fp_col)`` — the output of ``image_dhash`` /
    ``audio_fingerprint`` / ``simhash``, column renamed as needed) →
    stats ``{"batch": 0, "accepted": n, "rejected_within_batch": m,
    "null_fp": k, "rejected_history": 0}``. Refuses if a store already
    exists (grow it with :func:`fingerprint_store_refresh`); the
    radius and column names are pinned in meta for the store's
    lifetime — a batch judged under a different radius would silently
    change what "duplicate" means mid-history. ``family`` is an
    optional label ("image-dhash", "audio", "simhash", ...) pinned in
    meta for the same reason: the store itself is family-agnostic
    (8 bytes are 8 bytes), but a surface that FINGERPRINTS on the
    caller's behalf (the CLI) must not mix families in one history —
    it validates its tier flag against this label on every refresh.
    ``extras`` is an optional JSON-able dict pinned alongside it for
    surface-level parameters the fingerprinting step needs back on
    refresh (the CLI's ``text_col`` for the simhash tier) — the store
    itself never reads it."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("max_hamming must be in 0..3 (4x16-bit banding)")
    meta = {
        "version": 1,
        "max_hamming": int(max_hamming),
        "id_col": id_col,
        "fp_col": fp_col,
        "family": family,
        "extras": dict(extras or {}),
    }
    return batch_store.create(spark, FAMILY, fps, path, meta, validate_ids)


def fingerprint_store_refresh(
    spark: SparkSession,
    fps: DataFrame,
    path: str,
    drop_known: bool = False,
    validate_ids: bool = True,
) -> dict:
    """Append one fingerprint batch: reject history near-dups, dedup
    within the batch, commit the accepted rows as a new immutable
    directory → stats ``{"batch": k, "accepted": n,
    "rejected_history": h, "rejected_within_batch": w, "null_fp": z}``.
    Radius and columns come from the store's meta.

    Batch ids must be NEW: a re-ingested id refuses loudly by default
    (its first ingest already decided its dedup fate);
    ``drop_known=True`` instead drops already-stored ids INSIDE the
    writer claim — the replay-safe mode the streaming sink runs on.
    Note ``drop_known`` sees only ACCEPTED ids: a row rejected as a
    near-dup in an earlier batch is judged again on replay and
    rejected again by the same history — idempotent either way. An
    empty batch commits nothing, ``batch: None``."""
    return batch_store.append(
        spark, FAMILY, fps, path, drop_known=drop_known,
        validate_ids=validate_ids,
    )


def fingerprint_store_load(spark: SparkSession, path: str) -> DataFrame:
    """The accepted fingerprint table → ``(id_col, fp_col)`` as built:
    the ``stored_fps`` input for ``image_matches_against`` /
    ``audio_matches_against`` / ``simhash_matches_against`` (rename
    ``fp_col`` to what the consumer expects), and the survivor-id set
    of the whole ingest history. Reads only committed immutable
    directories — no swap window, no retry."""
    return batch_store.load(spark, FAMILY, path)


def fingerprint_store_matches(
    spark: SparkSession, fps: DataFrame, path: str
) -> DataFrame:
    """Read-only novelty check (the store-family `matches` verb): ids
    of ``fps`` (``(id_col, fp_col)`` per the store's meta) that WOULD
    be rejected against the store right now — within the pinned
    Hamming radius of ANY accepted fingerprint. No writer claim, no
    mutation; the decontamination / pre-ingest filter read path. NULL
    fingerprints never match (an un-fingerprintable blob can't
    collide)."""
    meta = batch_store.read_meta(path, FAMILY.hint)
    id_col, fp_col = meta["id_col"], meta["fp_col"]
    stored = fingerprint_store_load(spark, path).select(
        F.col(fp_col).alias("simhash")
    )
    return simhash_matches_against(
        fps.select(F.col(id_col), F.col(fp_col).alias("simhash")).filter(
            F.col("simhash").isNotNull()
        ),
        stored,
        max_hamming=meta["max_hamming"],
        id_col=id_col,
    )


def fingerprint_store_compact(spark: SparkSession, path: str) -> dict:
    """Fold all committed batch directories into one slot →
    ``{"batches_before": k, "fingerprints": n}`` (the shared
    ``batch_store`` protocol; crash leaves the previous generation
    readable, orphans go to :func:`fingerprint_store_vacuum`)."""
    return batch_store.compact(spark, FAMILY, path)


def fingerprint_store_vacuum(
    path: str, grace_seconds: float = 86400.0
) -> dict:
    """Sweep unreferenced batch directories after the grace window →
    ``{"removed": n, "kept": m}`` (shared protocol)."""
    return batch_store.vacuum(FAMILY, path, grace_seconds)
