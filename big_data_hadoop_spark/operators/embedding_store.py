"""Persisted, incrementally-maintained embedding store — managed
incremental SEMANTIC dedup (the round-10 completion of the incremental
tier symmetry: exact digests q64, MinHash signatures q68, SimHash
fingerprints q93, video frame hashes r09, and — here — embeddings).

THE PROBLEM THIS SOLVES: ``semantic_dedup`` (SemDeDup, Abbas et al.
2023 — public literature) dedups ONE corpus; a production ingest
pipeline needs "is this batch semantically novel vs everything already
accepted", which requires a maintained history of accepted embeddings
AND a pinned partitioning of the embedding space — re-fitting the
coarse quantizer per batch would silently move cell boundaries and
change what "duplicate" means mid-history. This store pins both under
the engine's shared immutable-batch protocol
(``sources/batch_store.py`` — one implementation, four stores):

* the IVF centroids are fitted ONCE at build (bounded sample, seeded)
  and pinned in ``meta.json``; every later batch is assigned to cells
  by the same driver-side centroids — no refit, ever;
* matching is the SemDeDup within-cell rule at the meta-pinned
  ``eps``: a batch row is a duplicate of a stored row iff they share
  a cell AND cosine >= eps (cross-cell near-dups are missed BY
  CONSTRUCTION — the paper's documented approximation, what bounds
  the quadratic);
* greedy keep-first by arrival: history rejects first, then the batch
  near-dedups within itself (within-cell pairs → connected
  components → min id), and accepted rows append as an immutable
  batch.

CELL ASSIGNMENT RULE (self-consistent, replicated in the tests):
nearest pinned centroid by squared L2, first minimum on ties. The
BUILD corpus is assigned by this same rule — not by the KMeans
model's own transform — so the stored history and every future batch
live under one rule that is a pure function of (embedding, meta).

ZERO-NORM embeddings have no cosine direction: they are DROPPED with
a count in the returned stats, never stored (the fingerprint store's
NULL-fp contract, one tier up).

100 TB shape: history is one embedding row per accepted doc (the
store's state is the accepted corpus itself — what SemDeDup needs,
nothing more); per refresh one narrow assignment pass over the batch
(k x dim multiply-adds per row, no shuffle), one within-cell equi-join
against history (flat scalar-column scoring — the measured ~10x fast
path from ``similarity._flat``), one within-batch cell join, one
immutable directory append.

ROUND-11 HEALTH SURFACE — the three levers an operator needs once a
store lives for months:

* hot cells ARE the skew hazard (the within-cell join is quadratic in
  cell occupancy): occupancy is disclosed per verb
  (``hot_cell_rows`` / ``occupied_cells`` in stats) and an optional
  meta-pinned ``max_cell_rows`` valve refuses-before-commit (default
  off — a refusal never silently changes what "duplicate" means, the
  way skipping a hot cell would);
* cross-cell misses are MEASURED, not cited:
  ``embedding_store_recall_audit`` runs exact cosine truth over the
  full history on a fixed-size sample (linear in history — the audit
  costs the same at every corpus size) vs the store's within-cell
  verdict;
* centroid staleness is visible (``assign_dist_mean``/``p99`` per
  refresh vs the build-time pins; ``dist_drift``), and
  ``embedding_store_rebuild`` is the guarded escape hatch: refit +
  replay accepted history through the new cells under the writer
  claim, row-identical to a fresh build, crash-safe swap.

ROUND-12 RECALL LEVER — acting on the number round 11 measured
(within-cell recall as low as 0.28 at loose eps on this corpus):

* ``check_cells = p`` (meta-pinned at build; changeable only via
  ``rebuild``) assigns every JUDGED row — history probes and
  within-batch pairs alike — to its p nearest cells, IVF's n_probe
  applied to the dedup tier. Storage stays single-cell (each accepted
  row lives at its home cell; occupancy, clustering, and the
  refresh==rebuild replay invariants are untouched); the batch side
  fans out xp through the cell equi-join while history never
  re-ships. Within-batch pairs use the symmetric closure (a pair
  exists when either row's home cell is in the other's checked set)
  so batch dedup judges exactly what refresh-against-history would;
* ``boundary_frac`` (every write verb's stats) is the truth-free
  early warning between audits: the fraction of batch rows whose
  runner-up centroid sits within ``BOUNDARY_MARGIN`` of the winner
  (squared L2) — the rows whose near-duplicates can land one cell
  over. Climbing boundary_frac → re-measure recall
  (``embedding_store_recall_audit``) → raise ``check_cells`` via
  rebuild (cheap) or refit cells (expensive), in that order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_hadoop_spark.functions.rank import _quote
from big_data_hadoop_spark.operators.dedup import dedup_by_clusters
from big_data_hadoop_spark.operators.similarity import (
    _finite_centroids,
    _flat,
    _flat_dot,
    _nonzero,
    assign_cells,
    ivf_build,
)
from big_data_hadoop_spark.sources import batch_store

#: Boundary-margin window for the ``boundary_frac`` diagnostic: a row
#: counts as boundary-risky when its runner-up centroid's SQUARED L2
#: distance is within 25% of the winner's (``d2 <= 1.25 * d1``) — the
#: cheap, truth-free proxy for cross-cell miss risk. Rows that sit
#: that close to two cells are exactly the rows whose near-duplicates
#: can land one cell over; a sustained climb in ``boundary_frac`` is
#: the per-refresh early warning to re-measure recall
#: (``embedding_store_recall_audit``) and consider raising the
#: meta-pinned ``check_cells`` (cheap) before reaching for a rebuild.
BOUNDARY_MARGIN = 0.25


def _prune_to_cells(history: DataFrame, cells: list[int], meta: dict):
    """``history`` restricted to the batch's CHECKED ``cells``: the
    predicate pushes into the parquet scan and — because committed
    batches are CLUSTERED by cell — skips whole row groups, so a batch
    checking k of n cells reads ~k/n of history. The cell equi-join's
    result is unchanged (rows outside every checked cell can never
    match). No filter when the batch checks EVERY cell: it could prune
    nothing and would only add plan noise."""
    if not cells:
        return history.filter(F.lit(False))
    if len(cells) < (len(meta.get("centroids") or []) or 1):
        return history.filter(F.col("cell").isin(cells))
    return history


def _checked_cells(assigned: DataFrame) -> list[int]:
    """The distinct CHECKED cell set of a p>1-assigned frame, collected
    cell-bounded: the per-row ``cells`` arrays are EXPLODED before the
    distinct, so the aggregation state and the driver result are
    bounded by n_cells ints — never by the number of distinct ordered
    p-tuples a boundary-rich batch can produce (``collect_set`` over
    the array column buffers up to P(n_cells, p) tuples — a round-12
    review finding). One tiny extra job, paid only by p>1 stores; the
    p=1 path keeps its free ride on the stats aggregation."""
    return sorted(
        int(r["c"])
        for r in assigned.select(F.explode("cells").alias("c"))
        .distinct()
        .collect()
    )


def _matches(
    new_assigned: DataFrame,
    stored: DataFrame,
    eps: float,
    dim: int,
    id_col: str,
    vec_col: str,
    check_cells: int = 1,
) -> DataFrame:
    """Batch ids with a stored neighbor at cosine >= eps in one of the
    batch row's CHECKED cells → one id column, distinct. Stored rows
    carry ``cell`` (their single home); batch rows carry ``cell`` at
    ``check_cells`` = 1 or ``cells`` (the p nearest) above it, in
    which case the BATCH side fans out xp through an explode below the
    flatten — history never re-ships, the join stays a cell equi-join,
    and the distinct collapses multi-cell hits. Neither side holds
    zero-norm rows (the store's accept fold drops them). Flat-column
    scoring below the cell equi-join — the multiplied-form threshold
    avoids a division per candidate pair."""
    if check_cells > 1:
        na = _flat(
            new_assigned, id_col, vec_col, dim, "_a", extra=("cells",)
        )
        na = na.withColumn("cell", F.explode("cells")).drop("cells")
    else:
        na = _flat(
            new_assigned, id_col, vec_col, dim, "_a", extra=("cell",)
        )
    sb = _flat_stored(stored, dim, id_col, vec_col)
    dotc = _flat_dot("_a", "_b", dim)
    return (
        na.join(
            sb,
            (F.col("cell") == F.col("cell_b"))
            & (dotc >= F.lit(float(eps)) * F.col("nrm") * F.col("nrm_b")),
        )
        .select(F.col(id_col))
        .distinct()
    )


def _flat_stored(
    stored: DataFrame, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """The stored (home-cell) side of a cell equi-join in flat-column
    form: ``(_sid, cell_b, _b0.., nrm_b)``."""
    return (
        _flat(
            stored.select(F.col(id_col).alias("_sid"), "cell", F.col(vec_col)),
            "_sid",
            vec_col,
            dim,
            "_b",
            extra=("cell",),
        )
        .withColumnRenamed("cell", "cell_b")
        .withColumnRenamed("nrm", "nrm_b")
    )


def _within_pairs(
    assigned: DataFrame,
    eps: float,
    dim: int,
    id_col: str,
    vec_col: str,
    check_cells: int = 1,
) -> DataFrame:
    """Within-cell near-dup pairs ``(id_a, id_b)`` with ``id_a <
    id_b`` over one assigned frame — the ``semantic_neardup_pairs``
    dim path, specialized to a pre-assigned, zero-norm-free input (no
    refit, no norm guard). With ``check_cells`` = p > 1 a pair exists
    when EITHER row's home cell lies in the other's checked set (and
    cosine >= eps) — the symmetric closure of the history rule, so
    within-batch dedup judges exactly what refresh-against-history
    would have: enumerate every directed (prober, home) orientation
    via one explode of the prober's ``cells``, then canonicalize with
    least/greatest + distinct (a pair can hit in both directions or
    in several cells)."""
    fb = (
        _flat(assigned, id_col, vec_col, dim, "_b", extra=("cell",))
        .withColumnRenamed(id_col, "id_b")
        .withColumnRenamed("cell", "cell_b")
        .withColumnRenamed("nrm", "nrm_b")
    )
    dotc = _flat_dot("_a", "_b", dim)
    if check_cells > 1:
        fa = _flat(
            assigned, id_col, vec_col, dim, "_a", extra=("cells",)
        ).withColumnRenamed(id_col, "id_a")
        fa = fa.withColumn("cell", F.explode("cells")).drop("cells")
        return (
            fa.join(
                fb,
                (F.col("cell") == F.col("cell_b"))
                & (F.col("id_a") != F.col("id_b"))
                & (
                    dotc
                    >= F.lit(float(eps)) * F.col("nrm") * F.col("nrm_b")
                ),
            )
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
    fa = _flat(
        assigned, id_col, vec_col, dim, "_a", extra=("cell",)
    ).withColumnRenamed(id_col, "id_a")
    return fa.join(
        fb,
        (F.col("cell") == F.col("cell_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (dotc >= F.lit(float(eps)) * F.col("nrm") * F.col("nrm_b")),
    ).select("id_a", "id_b")


def _truth_frame(
    sample: DataFrame,
    history: DataFrame,
    eps: float,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The recall audit's EXACT truth: per sample id, the best cosine
    against ANY history row at >= eps — no cell constraint, the brute
    flat-column scan. ``broadcast()`` pins the fixed-size SAMPLE as
    the nested-loop join's built side: the sample ships to executors
    and the history STREAMS — cost |history| x sample_rows, linear in
    history (never the reverse, which would materialize the history
    driver-side). Plan shape pinned in tests/test_plans.py."""
    sa = F.broadcast(_flat(sample, id_col, vec_col, dim, "_a"))
    hb = _flat(
        history.select(F.col(id_col).alias("_sid"), F.col(vec_col)),
        "_sid",
        vec_col,
        dim,
        "_b",
    ).withColumnRenamed("nrm", "nrm_b")
    dotc = _flat_dot("_a", "_b", dim)
    return (
        sa.join(hb, dotc >= F.lit(float(eps)) * F.col("nrm") * F.col("nrm_b"))
        .groupBy(F.col(id_col))
        .agg(F.max(dotc / (F.col("nrm") * F.col("nrm_b"))).alias("best_cos"))
    )


def _bad_vector(dim: int, vec_col: str):
    """Predicate: vector that cannot be honestly assigned a cell —
    wrong width (zip_with pads the short side with NULLs → NULL cell)
    or a NULL/NaN ELEMENT (every centroid distance becomes NULL/NaN,
    so assignment is undefined; round-10's width guard had exactly
    this bypass — a correct-width vector with one NULL element sailed
    past ``F.size`` and the zero-norm filter, got a NULL cell, joined
    nothing, and was STORED permanently invisible to future dedup).
    Whole-NULL embeddings are NOT flagged — they stay the disclosed
    zero-norm drop (no direction, counted in stats)."""
    vec = _quote(vec_col)
    return F.expr(
        f"{vec} IS NOT NULL AND (size({vec}) != {int(dim)} OR "
        f"exists({vec}, x -> x IS NULL OR isnan(CAST(x AS DOUBLE))))"
    )


def _malformed_msg(dim: int, what: str) -> str:
    return (
        f"{what} contains vectors whose width differs from the "
        f"store's pinned dim={dim}, or with NULL/NaN elements — "
        "such a vector cannot be assigned a cell and would be "
        "stored (or silently read as novel) corrupted; fix the "
        "embedder or rebuild at the new width"
    )


def _validate(df: DataFrame, meta: dict, check_dups: bool):
    """Every write-path batch refusal in ONE aggregation job (the
    NULL-id scan, the duplicate-id check, the malformed-vector scan,
    and the row count the accept fold needs) → ``(df, row count)``.
    ``check_dups=False`` is the ``validate_ids=False`` contract
    (uniqueness guaranteed upstream); NULL ids and malformed vectors
    always refuse — both corrupt the store silently."""
    dim, id_col, vec_col = meta["dim"], meta["id_col"], meta["vec_col"]
    # a batch judged before any centroids are pinned is the build frame
    what = (
        "embedding refresh batch" if "centroids" in meta
        else "embedding build frame"
    )
    row = batch_store.refuse_bad_ids(
        df, id_col, "ids in the embedding batch",
        f"duplicate {id_col} values within the batch — the greedy "
        "keep-first outcome for an id seen twice is undefined",
        check_dups,
        n_bad=F.count(F.when(_bad_vector(dim, vec_col), 1)),
    )
    if row["n_bad"]:
        raise ValueError(_malformed_msg(dim, what))
    return df, row["n"]


def _refuse_malformed(
    df: DataFrame, dim: int, vec_col: str, what: str = "batch"
) -> None:
    """Read-path form of the malformed-vector refusal (see
    ``_bad_vector``): one limit-1 scan — the read-only verbs (matches,
    audit) have no id validation to fold it into."""
    if df.filter(_bad_vector(dim, vec_col)).limit(1).count():
        raise ValueError(_malformed_msg(dim, what))


def _accept(df: DataFrame, n_in: int, prior, meta: dict, stats: dict):
    """The dedup fold: drop zero-norm rows (counted), reject same-cell
    history matches at eps (counted), within-batch cluster dedup
    (counted) → accepted ``(id, cell, embedding)`` rows, eagerly
    checkpointed, and their count (already paid for by the stats
    bookkeeping). Also reports the centroid-staleness diagnostic:
    ``assign_dist_mean`` / ``assign_dist_p99`` (squared L2 to the
    winning PINNED centroid — exact percentile, deterministic), folded
    into the SAME aggregation job as the usable-row count, and —
    against a history — ``dist_drift`` (see ``_drift``)."""
    eps, dim, id_col, vec_col = (
        meta["eps"], meta["dim"], meta["id_col"], meta["vec_col"]
    )
    p = int(meta.get("check_cells", 1) or 1)
    norm_in = df.select(F.col(id_col), F.col(vec_col))
    # n_in comes from the lifecycle's single validation job
    # (_validate) — malformed vectors (wrong width / NULL/NaN
    # elements) were refused there, BEFORE any expensive work. NULL
    # embeddings stay the disclosed drop below (no norm, no direction
    # — the NULL-fp contract).
    usable = _nonzero(norm_in, vec_col)
    # ONE execution of the caller's upstream: assignment + every
    # downstream join reads this narrow checkpoint
    assigned = assign_cells(
        usable, meta["centroids"], vec_col=vec_col, with_dist=True,
        check_cells=p,
    ).localCheckpoint(eager=True)
    # ONE job: usable count, distance diagnostics, the boundary-margin
    # fraction — and, at p=1, the batch's occupied cell set (bounded
    # by n_cells) for history pruning. At p>1 the checked set comes
    # from _checked_cells' exploded distinct instead: collect_set over
    # the `cells` ARRAY column would ship distinct p-TUPLES (up to
    # P(n_cells, p) arrays, batch-bounded not cell-bounded) through
    # the aggregation buffer and the driver row — a boundary-rich
    # 10M-row batch at n_cells=4096 could materialize millions of
    # tuples where the exploded set never exceeds n_cells ints
    # (round-12 review).
    drow = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("cell_dist").alias("mean"),
        F.percentile("cell_dist", F.lit(0.99)).alias("p99"),
        *([] if p > 1 else [F.collect_set("cell").alias("cells")]),
        # boundary-margin diagnostic (see BOUNDARY_MARGIN): with one
        # centroid cell_dist2 is NULL -> otherwise(0.0) -> 0.0, the
        # honest value (no second cell to straddle into)
        F.avg(
            F.when(
                F.col("cell_dist2")
                <= F.lit(1.0 + BOUNDARY_MARGIN) * F.col("cell_dist"),
                1.0,
            ).otherwise(0.0)
        ).alias("boundary"),
    ).first()
    n_usable = drow["n"]
    stats["zero_norm"] = n_in - n_usable
    stats["assign_dist_mean"] = (
        float(drow["mean"]) if drow["mean"] is not None else None
    )
    stats["assign_dist_p99"] = (
        float(drow["p99"]) if drow["p99"] is not None else None
    )
    stats["boundary_frac"] = (
        float(drow["boundary"]) if drow["boundary"] is not None else None
    )
    if prior is not None:
        # prune the history scan to the batch's CHECKED cells BEFORE
        # the within-cell join (see _prune_to_cells)
        cells = (
            _checked_cells(assigned) if p > 1
            else sorted(int(c) for c in (drow["cells"] or []))
        )
        hits = _matches(
            assigned, _prune_to_cells(prior, cells, meta), eps, dim,
            id_col, vec_col, check_cells=p,
        ).localCheckpoint(eager=True)
        fresh = assigned.join(hits, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        n_fresh = fresh.count()
    else:
        fresh = assigned
        n_fresh = n_usable
    stats["rejected_history"] = n_usable - n_fresh
    pairs = _within_pairs(fresh, eps, dim, id_col, vec_col, check_cells=p)
    accepted = dedup_by_clusters(fresh, pairs, id_col=id_col).localCheckpoint(
        eager=True
    )
    n_accepted = accepted.count()
    stats["accepted"] = n_accepted
    stats["rejected_within_batch"] = n_fresh - n_accepted
    if prior is not None:
        _drift(meta, stats)
    return (
        {"emb": accepted.select(F.col(id_col), "cell", F.col(vec_col))},
        n_accepted,
    )


def _cell_counts(cells: DataFrame) -> dict[int, int]:
    """Per-cell accepted-row counts as a tiny driver dict — bounded by
    ``n_cells``, the same state class as the pinned centroids. The
    counts live in meta (``cell_counts``) and are maintained
    INCREMENTALLY: each verb aggregates only the rows it just accepted
    and merges driver-side — occupancy tracking never re-scans the
    history (a per-refresh full-history groupBy would add a
    data-proportional pass that exists only for bookkeeping)."""
    return {
        int(r["cell"]): int(r["n"])
        for r in cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _occupancy_stats(counts: dict[int, int], stats: dict) -> int:
    """Disclose occupancy (the within-cell join is quadratic IN THE
    CELL — this is the number an operator must watch) → hot-cell rows."""
    hot = max(counts.values(), default=0)
    stats["hot_cell_rows"] = hot
    stats["occupied_cells"] = len(counts)
    return hot


def _refuse_hot_cell(hot: int, max_cell_rows, path: str) -> None:
    if max_cell_rows is not None and hot > int(max_cell_rows):
        raise ValueError(
            f"hot cell: {hot} accepted rows would share one IVF cell "
            f"at {path}, over the store's pinned max_cell_rows="
            f"{max_cell_rows} — the within-cell join is quadratic in "
            "cell occupancy, so this cell is on its way to becoming "
            "the refresh bottleneck; rebuild with more cells "
            "(embedding_store_rebuild(n_cells=...)) or raise the valve "
            "deliberately"
        )


def _drift(meta: dict, stats: dict) -> None:
    """Centroid-staleness diagnostic: this batch's mean assignment
    distance over the BUILD corpus's pinned mean (``build_dist_mean``
    in meta). Centroids are pinned forever by design — this ratio is
    the signal that the embedding distribution has walked away from
    them (a drifting embedder, a domain shift): batches that the
    pinned cells fit as well as the build corpus sit near 1.0; a
    sustained climb means cells are coarsening and the cross-cell
    miss rate (measure it: ``embedding_store_recall_audit``) is
    growing — time for ``embedding_store_rebuild``. ``None`` when the
    store predates the diagnostic or the build mean was zero."""
    base = meta.get("build_dist_mean")
    cur = stats.get("assign_dist_mean")
    stats["dist_drift"] = cur / base if base and cur is not None else None


def _settle(tables: dict, prior, meta: dict, stats: dict, path: str):
    """Occupancy AFTER this commit — the meta's incremental
    ``cell_counts`` plus the rows just accepted (one cell-bounded agg,
    NEVER a history re-scan) — disclosed in stats and pinned in meta;
    the hot-cell valve refuses BEFORE the write, so a refused batch
    leaves the store untouched. A store without history (build,
    rebuild) also pins its assignment-distance profile as the drift
    baseline; a store written before the counts existed upgrades with
    a one-time history scan."""
    if prior is None:
        total: dict[int, int] = {}
        meta["build_dist_mean"] = stats["assign_dist_mean"]
        meta["build_dist_p99"] = stats["assign_dist_p99"]
    elif meta.get("cell_counts") is not None:
        total = {int(k): v for k, v in meta["cell_counts"].items()}
    else:
        total = _cell_counts(prior.select("cell"))
    for c, k in _cell_counts(tables["emb"].select("cell")).items():
        total[c] = total.get(c, 0) + k
    _refuse_hot_cell(
        _occupancy_stats(total, stats), meta.get("max_cell_rows"), path
    )
    meta["cell_counts"] = {str(k): v for k, v in total.items()}


FAMILY = batch_store.Family(
    hint="embedding_store_build",
    noun="an embedding store",
    kinds={"emb": "embeddings"},
    validate=_validate,
    accept=_accept,
    known=(
        "refresh batch contains ids already accepted into the store at "
        "{path} — re-ingesting an id would re-litigate its dedup fate; "
        "pass drop_known=True to skip known ids (the streaming/replay "
        "mode)"
    ),
    empty={"accepted": 0},
    settle=_settle,
    # every batch is written CLUSTERED by cell: each partition sorted
    # by cell, so every row GROUP spans few cells and the cell-pruning
    # filter refresh and matches push into the scan skips row groups
    # via parquet min/max stats — most of partition-by-cell's I/O win
    # without a layout migration. Deliberately sortWithinPartitions,
    # NOT repartition("cell"): a per-commit shuffle measured +29% on
    # the store's e2e probe for a concentration benefit row-group
    # stats already capture.
    cluster_by="cell",
)


def embedding_store_build(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    eps: float = 0.95,
    n_cells: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_cap: int = 100_000,
    max_cell_rows: int | None = None,
    check_cells: int = 1,
    validate_ids: bool = True,
) -> dict:
    """One-shot creation at ``path`` from an embedding frame
    (``(id_col, vec_col array<float/double>)``) → stats ``{"batch": 0,
    "accepted": n, "zero_norm": z, "rejected_within_batch": m,
    "rejected_history": 0, "assign_dist_mean": d, "assign_dist_p99":
    p, "boundary_frac": b, "hot_cell_rows": h, "occupied_cells": c}``.
    Fits the IVF coarse quantizer once (bounded seeded sample — the
    ``ivf_build`` machinery) and PINS the centroids in meta; refuses
    if a store already exists. ``dim`` is required (the flat-column
    scoring is the only shape that survives scale; embeddings are
    fixed-dim by contract).

    ``check_cells`` (default 1, meta-pinned) is the RECALL lever the
    round-11 audit motivated: with p > 1 every judged row — history
    probes AND within-batch pairs — checks its p nearest cells instead
    of only its home cell (IVF's n_probe applied to the dedup tier),
    buying back the boundary misses that are inherent to p=1 at the
    cost of fanning the BATCH side xp through the cell join (history
    rows still live in, and ship from, exactly one cell — storage,
    occupancy, and the refresh==rebuild invariants are untouched).
    Pinned in meta because it is part of what "duplicate" means: a
    mid-history change would silently re-litigate past accept
    decisions; ``embedding_store_rebuild(check_cells=...)`` is the
    deliberate escape hatch. Measure the gain, don't assume it:
    ``embedding_store_recall_audit`` reports the within-checked-cells
    recall at whatever p the store pins.

    ``max_cell_rows`` (default off) is the hot-cell valve, pinned in
    meta: the within-cell history join is quadratic in cell occupancy,
    so a cell accumulating a large fraction of history quietly becomes
    the refresh bottleneck at scale (the framehash store's
    ``max_frame_df`` argument, one tier over). With the valve set, any
    verb that would leave a cell holding more than this many ACCEPTED
    rows refuses loudly BEFORE committing, naming the fix
    (``embedding_store_rebuild`` at higher ``n_cells``) — a refusal
    never changes what "duplicate" means, unlike silently skipping the
    hot cell would. Occupancy is disclosed in stats either way.

    The build corpus's assignment-distance profile (mean / exact p99
    squared L2 to the winning centroid) is pinned in meta as
    ``build_dist_mean`` / ``build_dist_p99`` — the baseline every
    refresh's drift diagnostic compares against."""
    if dim is None or dim < 1:
        raise ValueError("dim is required (fixed embedding width >= 1)")
    if not -1.0 <= eps <= 1.0:
        raise ValueError("eps is a cosine threshold in [-1, 1]")
    if max_cell_rows is not None and max_cell_rows < 1:
        raise ValueError("max_cell_rows must be >= 1 (or None)")
    if int(check_cells) < 1:
        raise ValueError("check_cells must be >= 1")
    meta = {
        "version": 1,
        "eps": float(eps),
        "n_cells": int(n_cells),
        "dim": int(dim),
        "id_col": id_col,
        "vec_col": vec_col,
        "seed": int(seed),
        "max_cell_rows": (
            int(max_cell_rows) if max_cell_rows is not None else None
        ),
        "check_cells": int(check_cells),
    }

    def pin(batch: DataFrame, n: int, meta: dict) -> None:
        # after the ONE validation job, BEFORE paying for the KMeans
        # fit — a bad build frame would otherwise die inside MLlib with
        # an opaque error after the fit cost. n_rows = the validation
        # job's exact count: the training sample is a pure function of
        # (ids, n, cap), so reusing it skips ivf_build's presence probe
        # and sample-count jobs
        idx = ivf_build(
            batch, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
            seed=seed, train_cap=train_cap, n_rows=n,
        )
        meta["centroids"] = _finite_centroids(idx.centroids)

    return batch_store.create(
        spark, FAMILY, df, path, meta, validate_ids, pin=pin
    )


def embedding_store_refresh(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    drop_known: bool = False,
    validate_ids: bool = True,
) -> dict:
    """Append one embedding batch: assign to the PINNED centroids,
    reject same-cell history matches at the pinned eps, near-dedup the
    survivors within the batch, commit the accepted rows as a new
    immutable directory → stats. Every parameter comes from meta — the
    stream cannot silently redefine "duplicate" (or move a cell
    boundary) mid-history.

    Batch ids must be NEW: a re-ingested id refuses loudly by default;
    ``drop_known=True`` drops already-ACCEPTED ids INSIDE the writer
    claim (the replay-safe streaming mode; a row rejected earlier is
    judged again by the same history and rejected again — idempotent).
    An empty or fully-rejected batch commits no slot (``batch:
    None``).

    Input frames backed by EXPENSIVE upstreams (media decode, model
    scoring) should be eagerly localCheckpointed by the caller: the
    validation probes (isEmpty / known-id check) and the accept fold
    each reference the frame before its internal checkpoint, so an
    un-materialized decode lineage executes more than once (the CLI
    tier builders do this; round-9/10 convention).

    Stats carry the store's health diagnostics: ``assign_dist_mean``
    / ``assign_dist_p99`` / ``dist_drift`` (centroid staleness vs the
    build corpus — see ``_drift``), ``boundary_frac`` (fraction of
    batch rows sitting within ``BOUNDARY_MARGIN`` of a second cell —
    the cross-cell miss-risk proxy, rides the same aggregation job),
    and ``hot_cell_rows`` / ``occupied_cells`` (post-commit occupancy;
    if the store pinned ``max_cell_rows`` at build, a batch that would
    push a cell past it REFUSES before committing — the hot-cell
    valve)."""
    return batch_store.append(
        spark, FAMILY, df, path, drop_known=drop_known,
        validate_ids=validate_ids,
    )


def embedding_store_load(spark: SparkSession, path: str) -> DataFrame:
    """The accepted embedding table → ``(id_col, cell, vec_col)`` as
    built: the semantically-deduped corpus itself (plus each row's
    pinned cell), and the history every future batch is judged
    against. Reads only committed immutable directories."""
    return batch_store.load(spark, FAMILY, path)


def embedding_store_matches(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Read-only probe: ids of ``df`` that WOULD be rejected against
    the store right now (cosine >= the pinned eps within the probe
    row's pinned ``check_cells`` nearest cells) — the decontamination
    / novelty-check read path, no writer claim, no mutation. Zero-norm
    rows never match (no cosine direction).

    The history read is CELL-PRUNED like refresh's (round-11 advice:
    refresh got the ``In(cell, ...)`` pushdown over cell-clustered
    batch files, this verb still scanned everything): the probe batch
    is assigned + checkpointed, its checked-cell set collected (one
    cell-bounded agg), and the store scan filtered to those cells —
    a decontamination sweep whose small batch touches k of n cells
    reads ~k/n of history instead of all of it, row-group min/max
    skipping included. Skipped when the batch checks every cell (the
    filter could prune nothing); the match set is identical either
    way (rows outside every checked cell can never satisfy the cell
    equi-join). Plan shape pinned in tests/test_plans.py."""
    meta = batch_store.read_meta(path, FAMILY.hint)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    p = int(meta.get("check_cells", 1) or 1)
    base = df.select(F.col(id_col), F.col(vec_col))
    # same malformed-vector refusal as the accept fold: a bad probe
    # row silently reading as "novel" would invite ingesting it next
    _refuse_malformed(base, meta["dim"], vec_col, "probe batch")
    usable = _nonzero(base, vec_col)
    assigned = assign_cells(
        usable, meta["centroids"], vec_col=vec_col, check_cells=p
    ).localCheckpoint(eager=True)
    if p > 1:
        cells = _checked_cells(assigned)
    else:
        crow = assigned.agg(F.collect_set("cell").alias("cells")).first()
        cells = sorted(int(c) for c in (crow["cells"] or []))
    return _matches(
        assigned,
        _prune_to_cells(embedding_store_load(spark, path), cells, meta),
        meta["eps"],
        meta["dim"],
        id_col,
        vec_col,
        check_cells=p,
    )


def embedding_store_rebuild(
    spark: SparkSession,
    path: str,
    n_cells: int | None = None,
    seed: int | None = None,
    train_cap: int = 100_000,
    max_cell_rows: int | None | str = "keep",
    check_cells: int | None = None,
) -> dict:
    """Refit the coarse quantizer and replay the accepted history
    through the NEW cells — the guarded escape hatch from the
    pin-forever centroid contract, for when the drift diagnostic
    (``dist_drift`` in refresh stats) shows the embedding distribution
    has walked away from the build-time cells, or the hot-cell valve
    fires (``n_cells`` too small for how history grew), or a measured
    recall shortfall calls for a wider ``check_cells``.

    Semantics: row-identical to a FRESH ``embedding_store_build`` on
    the accepted history as one frame, at (``n_cells``, ``seed``,
    ``check_cells``) defaulting to the store's pinned values (pinned
    in tests). Replay re-litigates under the new geometry: pairs that
    straddled an OLD cell boundary may now share a cell and collapse
    (min id survives) — exactly what a fresh build would decide, and
    the honest meaning of "rebuild". eps/dim/columns never change (a
    different eps would redefine "duplicate" — build a new store for
    that); ``check_cells`` IS changeable here precisely because
    rebuild is the verb whose contract is "re-litigate everything
    under the new rule".

    Crash-window: the replayed rows land in a NEW immutable batch
    directory first; meta (new centroids + the single new batch) swaps
    last, under the writer claim. A crash between the two leaves the
    old store fully intact and one unreferenced directory for
    ``embedding_store_vacuum`` — the compact verb's argument verbatim.
    """
    # argument checks FIRST (matching embedding_store_build's
    # ordering): a trivially invalid max_cell_rows previously refused
    # only after the full-history localCheckpoint and the KMeans refit
    # — the verb's most expensive work — while holding the writer
    # claim (round-11 advice)
    if max_cell_rows != "keep":
        if max_cell_rows is not None and int(max_cell_rows) < 1:
            raise ValueError("max_cell_rows must be >= 1 (or None)")
    if check_cells is not None and int(check_cells) < 1:
        raise ValueError("check_cells must be >= 1 (or None to keep)")

    def replay(history: DataFrame, meta: dict):
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        history = history.select(F.col(id_col), F.col(vec_col)).localCheckpoint(
            eager=True
        )
        new_cells = int(n_cells if n_cells is not None else meta["n_cells"])
        new_seed = int(seed if seed is not None else meta["seed"])
        idx = ivf_build(
            history, n_cells=new_cells, id_col=id_col, vec_col=vec_col,
            seed=new_seed, train_cap=train_cap,
        )
        new_meta = dict(meta)
        new_meta.update(
            n_cells=new_cells,
            seed=new_seed,
            centroids=_finite_centroids(idx.centroids),
            check_cells=int(
                check_cells
                if check_cells is not None
                else meta.get("check_cells", 1)
            ),
        )
        if max_cell_rows != "keep":
            new_meta["max_cell_rows"] = (
                int(max_cell_rows) if max_cell_rows is not None else None
            )
        return history, history.count(), new_meta

    st = batch_store.rewrite(spark, FAMILY, path, replay)
    st["history_rows"] = (
        st["accepted"] + st["rejected_within_batch"] + st["zero_norm"]
    )
    return st


def _audit_truth(
    spark: SparkSession, df: DataFrame, path: str, sample_rows: int,
    seed: int,
):
    """Shared preamble of the recall-audit family (single-width audit
    AND the multi-width sweep — factored so the two can never silently
    diverge): validate, draw the deterministic xxhash64-ordered
    zero-norm-free sample (checkpointed), load history, and compute
    the checkpointed exact-truth frame — the family's dominant cost,
    identical at every probe width. Returns ``(meta, sample, n_sample,
    history, truth)``."""
    if sample_rows < 1:
        raise ValueError("sample_rows must be >= 1")
    meta = batch_store.read_meta(path, FAMILY.hint)
    dim, id_col, vec_col = meta["dim"], meta["id_col"], meta["vec_col"]
    base = df.select(F.col(id_col), F.col(vec_col))
    _refuse_malformed(base, dim, vec_col, "audit batch")
    sample = (
        _nonzero(base, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(int(seed))))
        .limit(int(sample_rows))
        .localCheckpoint(eager=True)
    )
    n_sample = sample.count()
    history = embedding_store_load(spark, path)
    truth = _truth_frame(
        sample, history, meta["eps"], dim, id_col, vec_col
    ).localCheckpoint(eager=True)
    return meta, sample, n_sample, history, truth


def _audit_verdict(
    sample: DataFrame, history: DataFrame, meta: dict, p: int
) -> DataFrame:
    """The store's (possibly hypothetically widened) verdict on the
    audit sample: assignment at ``check_cells = p`` plus the cell
    match join — the cheap, per-width side of the audit family."""
    return _matches(
        assign_cells(
            sample, meta["centroids"], vec_col=meta["vec_col"],
            check_cells=p,
        ),
        history,
        meta["eps"],
        meta["dim"],
        meta["id_col"],
        meta["vec_col"],
        check_cells=p,
    )


def embedding_store_recall_audit(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    sample_rows: int = 256,
    seed: int = 0,
    check_cells: int | None = None,
) -> tuple[DataFrame, dict]:
    """MEASURE the within-cell approximation's miss rate instead of
    trusting the SemDeDup citation — the q92 pattern
    (``operators.dedup.lsh_recall_audit``) applied to the embedding
    store's IVF tier. Cross-cell near-duplicates are missed BY
    CONSTRUCTION (module docstring); this verb reports how often that
    actually happens on a deterministic sample of ``df``: exact cosine
    TRUTH (brute scan of the sample against the FULL history — no cell
    constraint; linear in history because the sample side is fixed)
    vs the store's within-cell verdict (``_matches``, the exact
    machinery refresh uses). The tuning loop at 100 TB: exact truth on
    the full batch is off the table, but a fixed-size sample costs the
    same at every corpus size — audit (n_cells, eps) on the sample,
    then trust only the measured recall, and rebuild
    (``embedding_store_rebuild``) when drift pushes it down.

    Sampling is by ``xxhash64(id, seed)`` order (a top-K, not a full
    sort), reproducible and layout-independent. Zero-norm sample rows
    can never match (no cosine direction) and are excluded; malformed
    vectors refuse loudly (the store's contract). Within-cell matches
    are a SUBSET of exact truth (same eps, same cosine), so precision
    is 1.0 by construction and the interesting number is recall.

    Returns ``(missed, summary)``: ``missed`` = sample ids the store
    would NOT reject but whose best exact cosine against history is
    >= eps (``id_col``, ``best_cos`` — how far over the threshold the
    miss sits), ``summary`` = ``{"sample_rows": actual, "check_cells":
    p, "truth_matches": t, "cell_matches": c, "missed": m, "recall":
    (t-m)/t or 1.0, "missed_max_cos": ...}``.

    ``check_cells`` (default None = the store's pinned value) audits a
    HYPOTHETICAL probe width instead: the operator's tuning loop for
    the round-12 recall lever — measure recall at p=2, 4, ... on the
    fixed sample, pick the cheapest p that clears the target, THEN pay
    the one-time ``embedding_store_rebuild(check_cells=p)``. The truth
    side never changes; only the store-verdict side widens, so the
    sweep's cost is one widened cell join per probed p."""
    if check_cells is not None and int(check_cells) < 1:
        raise ValueError("check_cells must be >= 1 (or None for pinned)")
    meta, sample, n_sample, history, truth = _audit_truth(
        spark, df, path, sample_rows, seed
    )
    id_col = meta["id_col"]
    p = int(
        check_cells
        if check_cells is not None
        else (meta.get("check_cells", 1) or 1)
    )
    # the store's ACTUAL verdict, at the pinned check_cells — what the
    # audit measures is the recall of whatever rule refresh enforces
    got = _audit_verdict(sample, history, meta, p).localCheckpoint(
        eager=True
    )
    missed = truth.join(got, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    n_truth, n_got, n_missed = truth.count(), got.count(), missed.count()
    summary = {
        "sample_rows": n_sample,
        "check_cells": p,
        "truth_matches": n_truth,
        "cell_matches": n_got,
        "missed": n_missed,
        # from the anti-join directly, NOT n_got/n_truth — stays
        # honest even if the subset invariant ever breaks (q92's
        # bookkeeping argument verbatim)
        "recall": ((n_truth - n_missed) / n_truth) if n_truth else 1.0,
        "missed_max_cos": (
            float(missed.agg(F.max("best_cos")).first()[0])
            if n_missed
            else None
        ),
    }
    return missed, summary


def embedding_store_recall_sweep(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    check_cells: tuple[int, ...] = (1, 2, 4),
    sample_rows: int = 256,
    seed: int = 0,
) -> list[dict]:
    """The recall audit across SEVERAL hypothetical ``check_cells``
    widths in one pass — the operator's full tuning loop (and the r12
    probe's body): the exact-truth scan is the audit's dominant cost
    (|history| x sample) and is IDENTICAL at every p, so running the
    single-p audit per candidate width re-pays it needlessly; this
    verb computes truth ONCE and re-runs only the widened store
    verdict (sample x p through the cell join — the cheap side) per
    probed p. Returns one ``recall_audit``-shaped summary dict per p,
    ascending (same books minus ``missed_max_cos``, whose per-p
    anti-join materialization is the sweep's point to avoid; run the
    single-p audit at the chosen width for the miss evidence)."""
    ps = sorted({int(p) for p in check_cells})
    if not ps or ps[0] < 1:
        raise ValueError("check_cells must be a non-empty set of ints >= 1")
    meta, sample, n_sample, history, truth = _audit_truth(
        spark, df, path, sample_rows, seed
    )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    dim, eps = meta["dim"], meta["eps"]
    # ONE widened pass instead of one verdict join per probed p
    # (round-13): the checked-cell sets are nested prefixes of each
    # sample row's distance-ranked cell list (``cells[0] == cell``,
    # ties to the lower index — the assign_cells contract), so a row
    # matches at width p iff its best-RANKED matching cell sits at
    # rank <= p. Compute per-sample-id the minimum matching rank with
    # one posexplode + cell join at p_max, then derive every width's
    # books driver-side from two bounded collects (<= sample_rows ids
    # each — the audit family is fixed-size by design). Books are
    # EXACTLY the per-p verdict join's (pinned in
    # tests/test_embedding_store.py::
    # test_recall_sweep_books_equal_single_p_audits).
    p_max = ps[-1]
    assigned = assign_cells(
        sample, meta["centroids"], vec_col=vec_col, check_cells=p_max
    )
    if p_max > 1:
        na = _flat(assigned, id_col, vec_col, dim, "_a", extra=("cells",))
        na = na.select(
            F.col(id_col),
            *[F.col(c) for c in na.columns if c not in (id_col, "cells")],
            F.posexplode("cells").alias("_rank0", "cell"),
        )
    else:
        na = _flat(
            assigned, id_col, vec_col, dim, "_a", extra=("cell",)
        ).withColumn("_rank0", F.lit(0))
    sb = _flat_stored(history, dim, id_col, vec_col)
    dotc = _flat_dot("_a", "_b", dim)
    ranks = (
        na.join(
            sb,
            (F.col("cell") == F.col("cell_b"))
            & (dotc >= F.lit(float(eps)) * F.col("nrm") * F.col("nrm_b")),
        )
        .groupBy(F.col(id_col))
        .agg((F.min("_rank0") + 1).alias("_minr"))
    )
    min_rank = {row[0]: row[1] for row in ranks.collect()}
    truth_ids = {row[0] for row in truth.select(F.col(id_col)).collect()}
    n_truth = len(truth_ids)
    out = []
    for p in ps:
        got_ids = {i for i, r in min_rank.items() if r <= p}
        n_missed = len(truth_ids - got_ids)
        out.append(
            {
                "sample_rows": n_sample,
                "check_cells": p,
                "truth_matches": n_truth,
                "cell_matches": len(got_ids),
                "missed": n_missed,
                "recall": (
                    (n_truth - n_missed) / n_truth if n_truth else 1.0
                ),
            }
        )
    return out


def embedding_store_compact(spark: SparkSession, path: str) -> dict:
    """Fold all committed batch directories into one slot →
    ``{"batches_before": k, "embeddings": n}`` (shared protocol)."""
    return batch_store.compact(spark, FAMILY, path)


def embedding_store_vacuum(
    path: str, grace_seconds: float = 86400.0
) -> dict:
    """Sweep unreferenced batch directories after the grace window →
    ``{"removed": n, "kept": m}`` (shared protocol)."""
    return batch_store.vacuum(FAMILY, path, grace_seconds)
