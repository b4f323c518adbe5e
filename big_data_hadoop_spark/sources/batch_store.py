"""Shared immutable-batch store lifecycle: ONE implementation of build,
refresh, replay, load, compact and vacuum under the engine's four
persisted dedup stores.

The four families and their table kinds:

* ``operators.neardup_graph`` — ``sig`` (one minhash signature per
  doc) and ``edge`` (the estimate-scored near-dup pairs);
* ``operators.fingerprint_store`` — ``fp`` (one 64-bit fingerprint
  per accepted id);
* ``operators.framehash_store`` — ``fh`` (one hash per sampled frame
  of an accepted clip);
* ``operators.embedding_store`` — ``emb`` (one embedding per accepted
  id, with its pinned IVF cell).

Layout under ``path/``::

    meta.json            params + the COMMITTED batch list (the manifest)
    <kind>/b00000/ ...   one parquet directory per committed batch,
                         per table kind

Each store module declares a :class:`Family` — the only things that
differ between stores — and routes its verbs through :func:`create`
(build), :func:`append` (refresh), :func:`rewrite` (the embedding
store's rebuild), :func:`load`, :func:`compact` and :func:`vacuum`.
The hook contract:

* ``validate(df, meta, check_dups) -> (batch, n)`` — every refusal of
  a malformed batch (NULL ids, duplicate ids unless ``check_dups`` is
  off, bad vectors) in ONE job; returns the frame the rest of the
  lifecycle works on and its row count;
* ``accept(batch, n, prior, meta, stats) -> (tables, n_accepted)`` —
  the family's scoring: ``prior`` is the stored history of the FIRST
  table kind (``None`` when the store has none — a build, a replay),
  ``tables`` maps every kind to the frame its new slot gets, and the
  returned stats land in ``stats``;
* optional ``settle(tables, prior, meta, stats, path)`` — meta updates
  (and refusals) that need the accepted rows, run before the write.

Build is an append into an empty store: no prior history, always
commits slot 0. A refresh appends the next slot; the known-id rule
(refuse re-ingested ids, or drop them under ``drop_known``) runs
INSIDE the writer claim against the first kind's id column, and a
batch with nothing to accept commits no slot at all — a no-new-content
stream would otherwise append one empty directory per trigger.

Batch directories are IMMUTABLE once committed; ``meta.json`` is the
single commit point, replaced atomically (write-tmp + fsync +
``os.replace``) and only while the caller still holds the writer claim
(``lock.verify()`` immediately before the replace — the same
refuse-to-publish contract as ``_swap_in``). A reader therefore never
sees a swap window: it lists committed batches from the meta generation
it read and touches only immutable directories. A refresh killed
mid-write leaves an orphaned UNCOMMITTED directory that the retry
simply overwrites (batch numbers come from the committed list, so the
retry reuses the same slot); nothing referenced by any committed meta
generation is ever rewritten. Writers serialize under
:func:`~big_data_hadoop_spark.sources.io.table_write_lock` — two
concurrent refreshes would otherwise both claim the same slot and the
loser's rows would silently vanish from the manifest.

Compaction folds every committed batch into one fresh slot and commits
a single-slot manifest; vacuum sweeps unreferenced directories after a
grace window measured from directory mtime (compaction re-stamps the
superseded slots so a years-old directory doesn't age out the instant
it becomes an orphan — deleting it under a reader that loaded the
pre-compact meta seconds earlier)."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote
from big_data_hadoop_spark.sources.io import _VERB_LOCK_OPTS, table_write_lock

META = "meta.json"


@dataclass(frozen=True)
class Family:
    """What one store family supplies to the shared lifecycle (see the
    module docstring for the hook contract)."""

    #: builder verb, named in the missing-store refusal
    hint: str
    #: "a fingerprint store" — the subject of the refusals
    noun: str
    #: table kind -> its row-count key in compact stats; the FIRST
    #: kind holds the id history the known-id rule and ``prior`` read
    kinds: dict
    validate: Callable
    accept: Callable
    #: refusal for re-ingested ids (``{path}`` is filled in)
    known: str
    #: stats of a batch that commits nothing
    empty: dict
    settle: Callable | None = None
    #: sort each new slot's partitions on this column (kept by compact)
    cluster_by: str | None = None
    #: kind -> stats key filled by counting the committed slot
    counted: dict = field(default_factory=dict)


@contextlib.contextmanager
def sweep_uncommitted(path: str, created: bool):
    """Wrap a build's staging so a REFUSED build leaves the filesystem
    as it found it: if this call created the directory and nothing was
    ever committed (no meta), sweep the litter (an uncommitted data
    dir). A concurrent builder that won the race has meta on disk and
    is never touched.

    MUST run INSIDE the ``table_write_lock`` block (the claim is a
    SIBLING ``<path>.lock`` directory, so the sweep never deletes the
    held claim itself): sweeping after the lock released could rmtree
    a lock-losing contender's in-flight staging — the contender
    acquires the claim the instant the failed builder releases it, and
    can be mid-write (batch parquet down, meta not yet committed) when
    a post-release except-block fires. While the claim is held, no
    contender can be staging, so the sweep decision (``created`` + no
    committed meta) is race-free. A build that fails to ACQUIRE the
    claim deliberately sweeps nothing: the holder it timed out against
    may be mid-build under the directory."""
    try:
        yield
    except BaseException:
        if created and not os.path.exists(meta_path(path)):
            shutil.rmtree(path, ignore_errors=True)
        raise


def meta_path(path: str) -> str:
    return os.path.join(path, META)


def read_meta(path: str, hint: str) -> dict:
    """Load the committed manifest; ``hint`` names the builder verb in
    the missing-store refusal (loud, not a silent empty store)."""
    mp = meta_path(path)
    try:
        with open(mp) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no store at {path}: {mp} is missing — create one with "
            f"{hint} first"
        ) from None


def write_meta(path: str, meta: dict, lock) -> None:
    """Atomic commit point: meta lands fully or not at all
    (``os.replace``), and only while we still hold the writer claim."""
    tmp = meta_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    lock.verify()
    os.replace(tmp, meta_path(path))


def batch_dirs(path: str, kind: str, batches) -> list[str]:
    return [os.path.join(path, kind, f"b{b:05d}") for b in batches]


def refuse_bad_ids(
    df, id_col: str, what: str, dup: str, check_dups: bool,
    key=None, **extra,
):
    """The id half of a family's ``validate`` hook, in ONE aggregation
    job → the row (``n`` rows, plus any ``extra`` named aggregates).
    NULL ids always refuse — a NULL id neither equi-joins nor orders,
    so its dedup outcome would be silent; duplicate ``key`` values
    (default: the id) refuse unless ``check_dups`` is off (the
    ``validate_ids=False`` contract — uniqueness guaranteed upstream).
    ``what`` names the ids in the NULL refusal, ``dup`` the hazard of
    a duplicate. ``key`` rows with a NULL id stay out of the distinct
    count: they get the NULL refusal instead."""
    ids = F.col(_quote(id_col))
    key = ids if key is None else key
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(ids).alias("n_ids"),
        F.count_distinct(F.when(ids.isNotNull(), key)).alias(
            "n_distinct"
        ),
        *[agg.alias(name) for name, agg in extra.items()],
    ).first()
    if row["n_ids"] < row["n"]:
        raise ValueError(
            f"NULL {what} — a NULL id neither equi-joins nor orders, so "
            "its dedup outcome would be silent; assign real ids first"
        )
    if check_dups and row["n_distinct"] < row["n_ids"]:
        raise ValueError(
            f"{dup}; dropDuplicates the batch first, or pass "
            "validate_ids=False if uniqueness is guaranteed upstream"
        )
    return row


def _history(spark, fam: Family, path: str, meta: dict, kind=None):
    kind = kind or next(iter(fam.kinds))
    return spark.read.parquet(*batch_dirs(path, kind, meta["batches"]))


def _commit(spark, fam, path, lock, meta, batch, n, prior, slot) -> dict:
    """Score the batch against ``prior``, write every kind's frame to
    ``slot`` and commit the manifest. A batch judged against history
    that accepts nothing commits no slot; a store without history
    (build, replay) always commits — its slot IS the new history."""
    stats: dict = {}
    tables, accepted = fam.accept(batch, n, prior, meta, stats)
    if prior is not None and not accepted:
        return {"batch": None, **fam.empty, **stats}
    if fam.settle is not None:
        fam.settle(tables, prior, meta, stats, path)
    for kind, df in tables.items():
        out = batch_dirs(path, kind, [slot])[0]
        if fam.cluster_by is not None:
            df = df.sortWithinPartitions(fam.cluster_by)
        # overwrite clears a crashed predecessor's orphan in this slot
        df.write.mode("overwrite").parquet(out)
        if kind in fam.counted:
            stats[fam.counted[kind]] = spark.read.parquet(out).count()
    meta["batches"] = (meta["batches"] if prior is not None else []) + [slot]
    write_meta(path, meta, lock)
    return {"batch": slot, **stats}


def create(
    spark, fam: Family, df, path: str, meta: dict,
    validate_ids: bool = True, pin: Callable | None = None,
) -> dict:
    """Build: refuse if a store exists, then append ``df`` into the
    empty store as slot 0 under a fresh writer claim → the family's
    stats plus ``batch: 0``. ``meta`` holds the pinned parameters;
    ``pin(batch, n, meta)`` (optional) pins more from the validated
    batch before scoring (the embedding store's centroids). A refused
    or failed build leaves no directory behind
    (:func:`sweep_uncommitted`)."""
    refresh = fam.hint.replace("_build", "_refresh")
    if os.path.exists(meta_path(path)):
        # instant filesystem refusal BEFORE any Spark scan
        raise ValueError(
            f"{fam.noun} already exists at {path} — append batches "
            f"with {refresh}, or choose a new path"
        )
    created = not os.path.exists(path)
    os.makedirs(path, exist_ok=True)
    with table_write_lock(path, **_VERB_LOCK_OPTS) as lock:
        with sweep_uncommitted(path, created):
            if os.path.exists(meta_path(path)):
                raise ValueError(
                    f"{fam.noun} already exists at {path} (created "
                    "while waiting for the writer claim)"
                )
            batch, n = fam.validate(df, meta, validate_ids)
            if pin is not None:
                pin(batch, n, meta)
            return _commit(spark, fam, path, lock, meta, batch, n, None, 0)


def append(
    spark, fam: Family, df, path: str,
    drop_known: bool = False, validate_ids: bool = True,
) -> dict:
    """Refresh: validate ``df`` and apply the known-id rule under the
    writer claim, then score it against the stored history and commit
    the next slot → the family's stats plus ``batch: k`` (``None``
    when nothing was committed). Every parameter comes from meta."""
    read_meta(path, fam.hint)  # fail fast on a missing store pre-lock
    with table_write_lock(path, **_VERB_LOCK_OPTS) as lock:
        # re-read under the claim: a concurrent refresh that committed
        # while we waited must be part of OUR history
        meta = read_meta(path, fam.hint)
        batch, n = fam.validate(df, meta, validate_ids)
        if n == 0:
            return {"batch": None, **fam.empty}
        prior = _history(spark, fam, path, meta)
        id_col = meta["id_col"]
        key = _quote(id_col)
        known = prior.select(key)
        if drop_known:
            # the replay-safe mode: dedup against history INSIDE the
            # claim — an out-of-lock pre-check is a TOCTOU against a
            # concurrent writer committing overlapping ids
            batch = batch.join(known, id_col, "left_anti").localCheckpoint(
                eager=True
            )
            n = batch.count()
            if n == 0:
                return {"batch": None, **fam.empty}
        elif batch.select(key).join(known, id_col, "semi").limit(1).count():
            raise ValueError(fam.known.format(path=path))
        slot = max(meta["batches"]) + 1
        return _commit(spark, fam, path, lock, meta, batch, n, prior, slot)


def rewrite(spark, fam: Family, path: str, replay: Callable) -> dict:
    """Replace the whole committed history with ONE replayed slot:
    ``replay(history, meta) -> (batch, n, new_meta)`` turns the stored
    history into a batch scored from scratch (no prior) under
    ``new_meta``. The replayed rows land in a NEW slot and meta swaps
    last, so a crash leaves the old store intact and one orphan for
    :func:`vacuum`."""
    read_meta(path, fam.hint)  # fail fast pre-lock
    with table_write_lock(path, **_VERB_LOCK_OPTS) as lock:
        meta = read_meta(path, fam.hint)
        batch, n, new_meta = replay(_history(spark, fam, path, meta), meta)
        slot = max(meta["batches"]) + 1
        return _commit(spark, fam, path, lock, new_meta, batch, n, None, slot)


def load(spark, fam: Family, path: str, kind: str | None = None):
    """Every committed batch of ``kind`` (default: the first) as one
    frame. Reads only directories the committed meta references."""
    return _history(spark, fam, path, read_meta(path, fam.hint), kind)


def compact(spark, fam: Family, path: str) -> dict:
    """Fold all committed batch directories into ONE slot per kind →
    ``{"batches_before": k, <kind's stats key>: rows, ...}``. Crash
    safety is the refresh protocol's: the consolidated directories land
    in a NEW slot (max + 1) while every old directory stays committed
    until the atomic meta replace. After the commit the old directories
    are orphans for :func:`vacuum` (two-phase: commit first, delete
    later, grace-windowed). A family's ``cluster_by`` re-sorts the
    consolidated slot's partitions on that column (sortWithinPartitions
    — deliberately no repartition; row-group min/max skipping only
    needs WITHIN-file ordering) so its clustering survives compaction."""
    with table_write_lock(path, **_VERB_LOCK_OPTS) as lock:
        meta = read_meta(path, fam.hint)
        batches = list(meta["batches"])
        slot = max(batches) + 1
        st: dict = {"batches_before": len(batches)}
        for kind, key in fam.kinds.items():
            df = spark.read.parquet(*batch_dirs(path, kind, batches))
            out = batch_dirs(path, kind, [slot])[0]
            if fam.cluster_by is not None and fam.cluster_by in df.columns:
                df = df.sortWithinPartitions(fam.cluster_by)
            df.write.mode("overwrite").parquet(out)
            st[key] = spark.read.parquet(out).count()
        meta["batches"] = [slot]
        write_meta(path, meta, lock)
        # stamp ORPHANING time onto the superseded slots (see module
        # docstring). Best-effort: a failure only makes vacuum sweep
        # that slot early relative to the grace window, never corrupts.
        now = time.time()
        for kind in fam.kinds:
            for d in batch_dirs(path, kind, batches):
                try:
                    os.utime(d, (now, now))
                except OSError:
                    pass
    return st


def vacuum(fam: Family, path: str, grace_seconds: float = 86400.0) -> dict:
    """Delete batch directories no committed meta references — once
    older than ``grace_seconds`` → ``{"removed": n, "kept": m}``.
    Within the window orphans count as ``kept``, never removed: the
    window protects readers still lazily scanning an older meta
    generation's directories. Runs under the writer claim so a
    concurrent refresh cannot commit a new slot while the sweep decides
    what is orphaned."""
    with table_write_lock(path, **_VERB_LOCK_OPTS):
        meta = read_meta(path, fam.hint)
        live = {f"b{b:05d}" for b in meta["batches"]}
        removed = kept = 0
        now = time.time()
        for kind in fam.kinds:
            base = os.path.join(path, kind)
            if not os.path.isdir(base):
                continue
            for d in sorted(os.listdir(base)):
                full = os.path.join(base, d)
                if d in live or not os.path.isdir(full):
                    continue
                if now - os.path.getmtime(full) >= grace_seconds:
                    shutil.rmtree(full)
                    removed += 1
                else:
                    kept += 1
    return {"removed": removed, "kept": kept}
