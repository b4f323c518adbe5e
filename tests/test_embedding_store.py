"""Persisted embedding store (``operators.embedding_store``): greedy
incremental SemDeDup semantics replicated by a pure-Python union-find
oracle over the STORE's own pinned centroids, the cell-assignment rule
pinned directly, crash/replay/validation behavior, the streaming sink
drained against the greedy control, and the r10 probe composition on
real testdata embeddings (the fingerprint/framehash-store battery,
semantic tier)."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.embedding_store import (
    assign_cells,
    embedding_store_build,
    embedding_store_compact,
    embedding_store_load,
    embedding_store_matches,
    embedding_store_rebuild,
    embedding_store_recall_audit,
    embedding_store_refresh,
    embedding_store_vacuum,
)

EPS = 0.9
DIM = 4


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na and nb else 0.0


def _assign(v, centroids):
    if not centroids:
        return 0
    best, cell = None, 0
    for i, c in enumerate(centroids):
        d = sum((x - y) * (x - y) for x, y in zip(v, c))
        if best is None or d < best:
            best, cell = d, i
    return cell


def _assign_p(v, centroids, p):
    """The p nearest centroids by squared L2, ties by lower index —
    the engine's check_cells rule (``assign_cells``'s ``cells``)."""
    if not centroids:
        return [0]
    ranked = sorted(
        (sum((x - y) * (x - y) for x, y in zip(v, c)), i)
        for i, c in enumerate(centroids)
    )
    return [i for _, i in ranked[:p]]


def _greedy(batches, centroids, eps=EPS, p=1):
    """Per batch: drop zero-norm rows, reject rows whose CHECKED cells
    (the p nearest; home cell at p=1) contain a stored neighbor's home
    cell at cosine >= eps, union-find survivors on pairs where either
    row's home cell is in the other's checked set, keep min id per
    component."""
    stored: dict[int, list] = {}
    for batch in batches:
        batch = {
            i: v for i, v in batch.items() if any(x != 0 for x in v)
        }
        cells = {i: _assign(v, centroids) for i, v in batch.items()}
        checkp = {i: _assign_p(v, centroids, p) for i, v in batch.items()}
        scells = {i: _assign(v, centroids) for i, v in stored.items()}
        fresh = {
            i: v
            for i, v in batch.items()
            if not any(
                scells[j] in checkp[i] and _cos(v, w) >= eps
                for j, w in stored.items()
            )
        }
        parent = {i: i for i in fresh}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        ids = sorted(fresh)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                if (
                    cells[a] in checkp[b] or cells[b] in checkp[a]
                ) and _cos(fresh[a], fresh[b]) >= eps:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        for i, v in fresh.items():
            if find(i) == i:
                stored[i] = v
    return stored


def _emb_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows.items()],
        "vec_id long, embedding array<double>",
    )


# one near-dup family (cos ~0.995), an orthogonal vector, a zero-norm
# row; n_cells=1 in the crafted battery so cells are deterministic and
# the within-cell rule is all-pairs (the KMeans path is exercised on
# real data below)
B1 = {1: (1, 0, 0, 0), 2: (0.95, 0.1, 0, 0), 3: (0, 1, 0, 0),
      4: (0, 0, 0, 0)}
B2 = {10: (0.97, 0.05, 0, 0), 11: (0, 0.99, 0.05, 0), 12: (0, 0, 1, 0)}


def _grow(spark, tmp_path, name="s"):
    path = str(tmp_path / name)
    st0 = embedding_store_build(
        spark, _emb_df(spark, B1), path, eps=EPS, n_cells=1, dim=DIM
    )
    st1 = embedding_store_refresh(spark, _emb_df(spark, B2), path)
    return path, (st0, st1)


def _centroids(path):
    with open(os.path.join(path, "meta.json")) as fh:
        return json.load(fh)["centroids"]


def _loaded(spark, path):
    return {
        r.vec_id: (r.cell, tuple(r.embedding))
        for r in embedding_store_load(spark, path).collect()
    }


def test_grown_store_matches_greedy_oracle(spark, tmp_path):
    path, (st0, st1) = _grow(spark, tmp_path)
    cents = _centroids(path)
    got = _loaded(spark, path)
    want = _greedy([B1, B2], cents)
    assert sorted(got) == sorted(want)
    for i, (cell, emb) in got.items():
        assert cell == _assign(want[i], cents)
        assert emb == tuple(float(x) for x in want[i])
    # stats add up; zero-norm disclosed
    assert st0["zero_norm"] == 1 and st0["rejected_history"] == 0
    assert st0["accepted"] + st0["rejected_within_batch"] == 3
    assert st1["zero_norm"] == 0
    assert (
        st1["accepted"] + st1["rejected_history"]
        + st1["rejected_within_batch"] == 3
    )
    # invariant: no two stored rows share a cell at cosine >= eps
    ids = sorted(got)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = got[ids[i]], got[ids[j]]
            assert not (
                a[0] == b[0] and _cos(a[1], b[1]) >= EPS
            ), (ids[i], ids[j])


def test_assign_cells_rule_pinned(spark):
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = {1: (0.9, 0.2, 0, 0), 2: (0.1, 2.0, 0, 0), 3: (0, 0, 0, 0)}
    got = {
        r.vec_id: r.cell
        for r in assign_cells(_emb_df(spark, rows), cents).collect()
    }
    assert got == {i: _assign(v, cents) for i, v in rows.items()}
    # empty centroid list -> everything in cell 0
    got0 = {
        r.vec_id: r.cell
        for r in assign_cells(_emb_df(spark, rows), []).collect()
    }
    assert set(got0.values()) == {0}


def test_non_finite_centroid_refused_naming_its_cell(
    spark, tmp_path, monkeypatch
):
    """A NaN/inf centroid refuses with a ValueError naming the cell —
    in assignment (not a SQL ParseException from its rendered literal)
    and at build, before the meta commit, leaving no store behind."""
    import types

    from big_data_hadoop_spark.operators import embedding_store as es

    rows = {1: (1, 0, 0, 0), 2: (0, 1, 0, 0)}
    for bad in (float("nan"), float("inf")):
        cents = [[1.0, 0.0, 0.0, 0.0], [0.0, bad, 0.0, 0.0]]
        with pytest.raises(ValueError, match="cell 1"):
            assign_cells(_emb_df(spark, rows), cents)
    monkeypatch.setattr(
        es,
        "ivf_build",
        lambda *a, **k: types.SimpleNamespace(
            centroids=[[float("nan"), 0.0, 0.0, 0.0]]
        ),
    )
    path = str(tmp_path / "s")
    with pytest.raises(ValueError, match="cell 0"):
        embedding_store_build(
            spark, _emb_df(spark, rows), path, eps=EPS, n_cells=1, dim=DIM
        )
    assert not os.path.exists(path)


def test_refusals_and_validation(spark, tmp_path):
    path, _ = _grow(spark, tmp_path)
    with pytest.raises(ValueError, match="already exists"):
        embedding_store_build(
            spark, _emb_df(spark, B1), path, dim=DIM
        )
    with pytest.raises(ValueError, match="already accepted"):
        embedding_store_refresh(spark, _emb_df(spark, B1), path)
    before = _loaded(spark, path)
    st = embedding_store_refresh(
        spark, _emb_df(spark, B1), path, drop_known=True
    )
    assert _loaded(spark, path) == before and st["accepted"] == 0
    with pytest.raises(ValueError, match="NULL ids"):
        embedding_store_refresh(
            spark,
            spark.createDataFrame(
                [(None, [1.0, 0.0, 0.0, 0.0])],
                "vec_id long, embedding array<double>",
            ),
            path,
        )
    with pytest.raises(ValueError, match="duplicate"):
        embedding_store_refresh(
            spark, _emb_df(spark, {50: (1, 1, 1, 1)}).unionAll(
                _emb_df(spark, {50: (1, 1, 1, 1)})
            ), path,
        )
    with pytest.raises(ValueError, match="dim is required"):
        embedding_store_build(
            spark, _emb_df(spark, B1), str(tmp_path / "bad")
        )
    # wrong-width vectors refuse loudly (a silent NULL cell would be
    # stored corrupted); NULL embeddings stay the disclosed drop
    with pytest.raises(ValueError, match="pinned dim"):
        embedding_store_refresh(
            spark,
            spark.createDataFrame(
                [(60, [1.0, 2.0])],
                "vec_id long, embedding array<double>",
            ),
            path,
        )
    st_null = embedding_store_refresh(
        spark,
        spark.createDataFrame(
            [(61, None)], "vec_id long, embedding array<double>"
        ),
        path,
    )
    assert st_null["zero_norm"] == 1 and st_null["accepted"] == 0
    # a CORRECT-width vector with a NULL (or NaN) element refuses
    # loudly too: it would bypass the width guard AND the zero-norm
    # filter, get a NULL/NaN cell, join nothing, and be stored
    # permanently invisible to all future dedup (round-10 advice)
    for poison in ([1.0, None, 0.0, 0.0], [1.0, float("nan"), 0.0, 0.0]):
        bad_df = spark.createDataFrame(
            [(62, poison)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="NULL/NaN"):
            embedding_store_refresh(spark, bad_df, path)
        with pytest.raises(ValueError, match="NULL/NaN"):
            embedding_store_matches(spark, bad_df, path)
        with pytest.raises(ValueError, match="NULL/NaN"):
            embedding_store_build(
                spark, bad_df, str(tmp_path / "poison"), dim=DIM
            )
        # a refused build leaves the filesystem as it found it: no
        # meta, and no littered directory/lock files either
        assert not os.path.exists(str(tmp_path / "poison"))
    with pytest.raises(ValueError, match="cosine threshold"):
        embedding_store_build(
            spark, _emb_df(spark, B1), str(tmp_path / "bad2"),
            eps=1.5, dim=DIM,
        )


def test_meta_pins_params_and_centroids(spark, tmp_path):
    path, _ = _grow(spark, tmp_path)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["eps"] == EPS and meta["dim"] == DIM
    assert meta["id_col"] == "vec_id" and meta["vec_col"] == "embedding"
    # n_cells=1 -> the pinned centroid IS the min-id build row
    assert meta["centroids"] == [[1.0, 0.0, 0.0, 0.0]]


def test_matches_read_path(spark, tmp_path):
    path, _ = _grow(spark, tmp_path)
    cents = _centroids(path)
    stored = _greedy([B1, B2], cents)
    probe = {90: (0.96, 0.08, 0, 0), 91: (0, 0, 0, 1), 92: (0, 0, 0, 0)}
    got = sorted(
        r.vec_id
        for r in embedding_store_matches(
            spark, _emb_df(spark, probe), path
        ).collect()
    )
    want = sorted(
        i
        for i, v in probe.items()
        if any(x != 0 for x in v)
        and any(
            _assign(v, cents) == _assign(w, cents)
            and _cos(v, w) >= EPS
            for w in stored.values()
        )
    )
    assert got == want and 90 in got and 91 not in got
    # the read path refuses wrong-width probes too
    with pytest.raises(ValueError, match="pinned dim"):
        embedding_store_matches(
            spark,
            spark.createDataFrame(
                [(95, [1.0])], "vec_id long, embedding array<double>"
            ),
            path,
        )


def test_all_rejected_refresh_commits_no_slot(spark, tmp_path):
    path, _ = _grow(spark, tmp_path)
    with open(os.path.join(path, "meta.json")) as fh:
        before = json.load(fh)["batches"]
    st = embedding_store_refresh(
        spark, _emb_df(spark, {90: (1, 0.01, 0, 0)}), path
    )
    assert st["batch"] is None and st["rejected_history"] == 1
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == before


def test_compact_vacuum_and_crashed_compact(spark, tmp_path):
    from unittest import mock

    from big_data_hadoop_spark.sources import batch_store

    path, _ = _grow(spark, tmp_path)
    before = _loaded(spark, path)
    with mock.patch.object(
        batch_store, "write_meta", side_effect=RuntimeError("killed (test)")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            embedding_store_compact(spark, path)
    assert _loaded(spark, path) == before
    assert embedding_store_vacuum(path, grace_seconds=0.0)["removed"] == 1
    st = embedding_store_compact(spark, path)
    assert st["batches_before"] == 2 and st["embeddings"] == len(before)
    assert _loaded(spark, path) == before
    assert embedding_store_vacuum(path, grace_seconds=0.0)["removed"] == 2


def test_assign_cells_preserves_caller_columns(spark):
    """assign_cells must never clobber a caller's columns with its
    internal scratch (round-11 review): a frame already carrying the
    scratch name keeps it verbatim, and with_dist only adds
    cell_dist."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], "keepme")],
        "vec_id long, embedding array<double>, __bdhs_assign_dists string",
    )
    out = assign_cells(df, [[1.0, 0, 0, 0], [0, 1.0, 0, 0]], with_dist=True)
    row = out.first()
    assert row["__bdhs_assign_dists"] == "keepme"
    assert row.cell == 0 and row.cell_dist == 0.0
    assert row.cell_dist2 == 2.0  # runner-up distance (round 12)
    assert sorted(out.columns) == sorted(
        ["vec_id", "embedding", "__bdhs_assign_dists", "cell",
         "cell_dist", "cell_dist2"]
    )


def test_occupancy_and_drift_stats(spark, tmp_path):
    """Round-11 diagnostics: per-verb occupancy + assignment-distance
    stats, build-time pins, refresh drift — all replicated in pure
    Python from the store's OWN pinned centroids."""
    path, (st0, st1) = _grow(spark, tmp_path)
    cents = _centroids(path)

    def dists(batch):
        out = []
        for v in batch.values():
            if any(x != 0 for x in v):
                c = cents[_assign(v, cents)]
                out.append(sum((x - y) * (x - y) for x, y in zip(v, c)))
        return out

    d0 = dists(B1)
    assert st0["assign_dist_mean"] == pytest.approx(sum(d0) / len(d0))
    # n_cells=1: every accepted row shares the one cell
    assert st0["hot_cell_rows"] == 2 and st0["occupied_cells"] == 1
    assert st1["hot_cell_rows"] == 3 and st1["occupied_cells"] == 1
    d1 = dists(B2)
    assert st1["assign_dist_mean"] == pytest.approx(sum(d1) / len(d1))
    assert st1["dist_drift"] == pytest.approx(
        (sum(d1) / len(d1)) / (sum(d0) / len(d0))
    )
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["build_dist_mean"] == pytest.approx(sum(d0) / len(d0))
    assert meta["build_dist_p99"] is not None
    assert meta["max_cell_rows"] is None  # valve default-off
    # meta's incremental per-cell counts == a recount of the loaded
    # store (occupancy never re-scans history; this pins the merge)
    want_counts: dict = {}
    for _i, (cell, _v) in _loaded(spark, path).items():
        want_counts[str(cell)] = want_counts.get(str(cell), 0) + 1
    assert meta["cell_counts"] == want_counts
    # compact folds directories, not rows: counts survive verbatim
    embedding_store_compact(spark, path)
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["cell_counts"] == want_counts


def test_hot_cell_valve(spark, tmp_path):
    """max_cell_rows refuses BEFORE committing — quadratic-to-bounded
    collapse: the store never accumulates a cell past the pin."""
    three = {1: (1, 0, 0, 0), 2: (0, 1, 0, 0), 3: (0, 0, 1, 0)}
    # build refusal: 3 mutually-orthogonal rows into one cell, cap 2
    with pytest.raises(ValueError, match="hot cell"):
        embedding_store_build(
            spark, _emb_df(spark, three), str(tmp_path / "b"),
            eps=EPS, n_cells=1, dim=DIM, max_cell_rows=2,
        )
    assert not os.path.exists(str(tmp_path / "b" / "meta.json"))
    # two rows fit under the cap; a third refuses at refresh and the
    # store is left byte-identical (no slot, meta unchanged)
    path = str(tmp_path / "s")
    st = embedding_store_build(
        spark, _emb_df(spark, {1: (1, 0, 0, 0), 2: (0, 1, 0, 0)}),
        path, eps=EPS, n_cells=1, dim=DIM, max_cell_rows=2,
    )
    assert st["accepted"] == 2 and st["hot_cell_rows"] == 2
    before = _loaded(spark, path)
    with open(os.path.join(path, "meta.json")) as fh:
        meta_before = json.load(fh)
    assert meta_before["max_cell_rows"] == 2
    with pytest.raises(ValueError, match="hot cell"):
        embedding_store_refresh(
            spark, _emb_df(spark, {9: (0, 0, 1, 0)}), path
        )
    assert _loaded(spark, path) == before
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == meta_before["batches"]
    # a duplicate of stored history is REJECTED, not stored — it must
    # sail through under the same valve (occupancy counts ACCEPTED
    # rows only)
    st = embedding_store_refresh(
        spark, _emb_df(spark, {10: (1, 0.001, 0, 0)}), path
    )
    assert st["batch"] is None and st["rejected_history"] == 1
    # rebuild with more cells is the advertised fix
    st = embedding_store_rebuild(spark, path, n_cells=2)
    assert st["accepted"] == 2
    st = embedding_store_refresh(
        spark, _emb_df(spark, {9: (0, 0, 1, 0)}), path
    )
    assert st["accepted"] == 1 and st["hot_cell_rows"] <= 2


def test_refresh_upgrades_store_without_cell_counts(spark, tmp_path):
    """A store whose meta predates the incremental occupancy counts
    upgrades on its first refresh (one-time history scan) and the
    merged counts match a full recount."""
    path, _ = _grow(spark, tmp_path)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    del meta["cell_counts"]
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    st = embedding_store_refresh(
        spark, _emb_df(spark, {40: (0.5, 0.5, 0.5, 0.5)}), path
    )
    assert st["accepted"] == 1
    want: dict = {}
    for _i, (cell, _v) in _loaded(spark, path).items():
        want[str(cell)] = want.get(str(cell), 0) + 1
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["cell_counts"] == want
    assert st["hot_cell_rows"] == max(want.values())


def test_rebuild_row_identical_to_fresh_build(spark, tmp_path):
    """rebuild == embedding_store_build on the accepted history as one
    frame, at the same (n_cells, seed) — centroids, cells, accepted
    rows all identical; meta swaps to the single new batch."""
    from big_data_hadoop_spark.sources import batch_store

    path, _ = _grow(spark, tmp_path)
    history = _loaded(spark, path)
    # the fresh control build reads the SAME parquet directories the
    # rebuild replays (KMeans init samples by partition — identical
    # physical input makes the comparison exact, not approximate)
    with open(os.path.join(path, "meta.json")) as fh:
        dirs = batch_store.batch_dirs(
            path, "emb", json.load(fh)["batches"]
        )
    hist_df = spark.read.parquet(*dirs).select("vec_id", "embedding")
    fresh = str(tmp_path / "fresh")
    embedding_store_build(
        spark, hist_df, fresh, eps=EPS, n_cells=2, dim=DIM, seed=7
    )
    st = embedding_store_rebuild(spark, path, n_cells=2, seed=7)
    assert st["history_rows"] == len(history)
    assert _loaded(spark, path) == _loaded(spark, fresh)
    assert _centroids(path) == _centroids(fresh)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    assert len(meta["batches"]) == 1 and meta["n_cells"] == 2
    assert meta["seed"] == 7 and meta["eps"] == EPS
    # the old batch directories are unreferenced now — vacuum sweeps
    # them, and the store reads back identically
    after = _loaded(spark, path)
    assert embedding_store_vacuum(path, grace_seconds=0.0)["removed"] == 2
    assert _loaded(spark, path) == after
    # refresh keeps working against the NEW geometry
    st = embedding_store_refresh(
        spark, _emb_df(spark, {70: (0, 0, 0, 1)}), path
    )
    assert st["accepted"] == 1


def test_rebuild_crash_window_leaves_store_intact(spark, tmp_path):
    from unittest import mock

    from big_data_hadoop_spark.sources import batch_store

    path, _ = _grow(spark, tmp_path)
    before = _loaded(spark, path)
    cents_before = _centroids(path)
    with mock.patch.object(
        batch_store, "write_meta", side_effect=RuntimeError("killed (test)")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            embedding_store_rebuild(spark, path, n_cells=2, seed=7)
    # meta never swapped: old batches, old centroids, same rows
    assert _loaded(spark, path) == before
    assert _centroids(path) == cents_before
    # the orphaned replay directory is swept
    assert embedding_store_vacuum(path, grace_seconds=0.0)["removed"] == 1
    assert _loaded(spark, path) == before


def test_recall_audit_measures_planted_cross_cell_miss(spark, tmp_path):
    """The q92 pattern for the IVF tier: plant a near-dup pair that
    straddles a cell boundary (constructed FROM the store's own pinned
    centroids, so the miss exists by geometry, not by seed luck) and
    check the audit's books: truth sees it, the within-cell tier
    doesn't, recall and missed_max_cos report exactly that."""
    # two well-separated clusters -> 2 pinned cells
    corpus = {}
    for k in range(5):
        corpus[k] = (5.0, 3.0 + 0.01 * k, 0.0, 0.0)
        corpus[10 + k] = (5.0, -3.0 - 0.01 * k, 0.0, 0.0)
    path = str(tmp_path / "s")
    embedding_store_build(
        spark, _emb_df(spark, corpus), path, eps=0.99, n_cells=2, dim=DIM
    )
    cents = _centroids(path)
    assert len(cents) == 2
    # h sits just on c0's side of the midplane, b just on c1's side;
    # cos(h, b) ~ 1 >> eps while neither is within eps of the clusters
    import numpy as np

    c0, c1 = np.array(cents[0]), np.array(cents[1])
    m = (c0 + c1) / 2.0
    d = (c1 - c0) / np.linalg.norm(c1 - c0)
    h = (m - 0.2 * d).tolist()
    b = (m + 0.2 * d).tolist()
    assert _cos(h, b) >= 0.99
    st = embedding_store_refresh(spark, _emb_df(spark, {50: h}), path)
    assert st["accepted"] == 1
    stored_h_cell = _loaded(spark, path)[50][0]
    assert _assign(b, cents) != stored_h_cell
    # probe: b (cross-cell miss), an exact copy of h (same-cell hit),
    # a zero-norm row (excluded), a novel direction (no truth match)
    probe = {60: b, 61: h, 62: (0, 0, 0, 0), 63: (0, 0, 1, 0)}
    missed, summ = embedding_store_recall_audit(
        spark, _emb_df(spark, probe), path, sample_rows=10
    )
    assert summ["sample_rows"] == 3  # zero-norm row excluded
    assert summ["truth_matches"] == 2 and summ["cell_matches"] == 1
    assert summ["missed"] == 1 and summ["recall"] == 0.5
    rows = missed.collect()
    assert [r.vec_id for r in rows] == [60]
    assert rows[0].best_cos == pytest.approx(_cos(h, b))
    assert summ["missed_max_cos"] == pytest.approx(_cos(h, b))
    # all-in-one-cell store: within-cell IS exact, recall 1.0
    one = str(tmp_path / "one")
    embedding_store_build(
        spark, _emb_df(spark, corpus), one, eps=0.99, n_cells=1, dim=DIM
    )
    embedding_store_refresh(spark, _emb_df(spark, {50: h}), one)
    _m, s1 = embedding_store_recall_audit(
        spark, _emb_df(spark, probe), one, sample_rows=10
    )
    assert s1["missed"] == 0 and s1["recall"] == 1.0
    assert s1["truth_matches"] == 2 and s1["cell_matches"] == 2
    with pytest.raises(ValueError, match="sample_rows"):
        embedding_store_recall_audit(
            spark, _emb_df(spark, probe), one, sample_rows=0
        )


def test_streaming_sink_matches_greedy_and_replays(spark, tmp_path):
    from big_data_hadoop_spark.streaming.pipelines import (
        streaming_embedding_dedup,
    )

    src = str(tmp_path / "src")
    _emb_df(spark, B2).write.parquet(src)
    B3 = {20: (0, 0, 0.99, 0.05), 21: (0.5, 0.5, 0.5, 0.5)}
    _emb_df(spark, B3).write.mode("append").parquet(src)
    path = str(tmp_path / "store")
    embedding_store_build(
        spark, _emb_df(spark, B1), path, eps=EPS, n_cells=1, dim=DIM
    )
    cents = _centroids(path)

    schema = "vec_id long, embedding array<double>"
    q = streaming_embedding_dedup(
        spark.readStream.schema(schema).parquet(src),
        path, str(tmp_path / "ckpt1"),
    )
    q.awaitTermination(180)
    got = sorted(_loaded(spark, path))
    want_two = sorted(_greedy([B1, B2, B3], cents))
    want_one = sorted(_greedy([B1, {**B2, **B3}], cents))
    assert got in (want_two, want_one)

    q2 = streaming_embedding_dedup(
        spark.readStream.schema(schema).parquet(src),
        path, str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert sorted(_loaded(spark, path)) == got


def test_streaming_sink_validates_columns_and_store(spark, tmp_path):
    from big_data_hadoop_spark.streaming.pipelines import (
        streaming_embedding_dedup,
    )

    src = str(tmp_path / "src")
    _emb_df(spark, B2).write.parquet(src)
    schema = "vec_id long, embedding array<double>"
    with pytest.raises(FileNotFoundError, match="embedding_store_build"):
        streaming_embedding_dedup(
            spark.readStream.schema(schema).parquet(src),
            str(tmp_path / "absent"), str(tmp_path / "c"),
        )
    path = str(tmp_path / "store")
    embedding_store_build(
        spark, _emb_df(spark, B1), path, eps=EPS, n_cells=1, dim=DIM
    )
    q = streaming_embedding_dedup(
        spark.readStream.schema(schema).parquet(src),
        path, str(tmp_path / "ckpt"),
        embeddings=lambda b: b.select(
            "vec_id", F.col("embedding").alias("vec")
        ),
    )
    with pytest.raises(Exception, match="pinned column"):
        q.awaitTermination(180)


def test_concurrent_refreshes_serialize_and_both_commit(spark, tmp_path):
    """Two refreshes racing on one store SERIALIZE on the writer claim
    and both commit in distinct slots; the grown store equals the
    greedy fold under ONE of the two serialization orders, and the
    same-cell spacing invariant holds either way. The crafted batches
    are mutually non-matching so BOTH always commit a slot (a fully-
    rejected batch legitimately commits none — the no-empty-slot rule,
    pinned elsewhere)."""
    import threading

    B3 = {20: (0.7, 0.7, 0, 0), 21: (0, 0, 0, 1)}
    path = str(tmp_path / "s")
    embedding_store_build(
        spark, _emb_df(spark, B1), path, eps=EPS, n_cells=1, dim=DIM
    )
    cents = _centroids(path)
    errs = []

    def refresh(rows):
        try:
            embedding_store_refresh(spark, _emb_df(spark, rows), path)
        except Exception as exc:
            errs.append(exc)

    ts = [
        threading.Thread(target=refresh, args=(r,)) for r in (B2, B3)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["batches"] == [0, 1, 2]
    got = {i: v for i, (_, v) in _loaded(spark, path).items()}
    assert sorted(got) in (
        sorted(_greedy([B1, B2, B3], cents)),
        sorted(_greedy([B1, B3, B2], cents)),
    )
    ids = sorted(got)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            assert not (
                _assign(got[ids[i]], cents) == _assign(got[ids[j]], cents)
                and _cos(got[ids[i]], got[ids[j]]) >= EPS
            )


def test_library_composition_matches_oracle_on_real_embeddings(
    spark, tmp_path
):
    """The r10 probe composition (build evens at eps=0.4/8 cells/
    dim=64, refresh odds, load) replicated on the real sf0.001
    embeddings table: the library store is grown, then the greedy fold
    is replayed in pure Python over the STORE's own pinned centroids —
    no cross-fit determinism assumption, the meta IS the contract."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    rows = {
        r.vec_id: tuple(float(x) for x in r.embedding)
        for r in emb.collect()
    }
    evens = {i: v for i, v in rows.items() if i % 2 == 0}
    odds = {i: v for i, v in rows.items() if i % 2 == 1}
    path = str(tmp_path / "store")
    embedding_store_build(
        spark,
        emb.filter(F.col("vec_id") % 2 == 0),
        path, eps=0.4, n_cells=8, dim=64,
    )
    embedding_store_refresh(
        spark, emb.filter(F.col("vec_id") % 2 == 1), path
    )
    cents = _centroids(path)
    want = _greedy([evens, odds], cents, eps=0.4)
    got = {
        r.vec_id: r.cell
        for r in embedding_store_load(spark, path).collect()
    }
    assert sorted(got) == sorted(want)
    for i, cell in got.items():
        assert cell == _assign(want[i], cents)
    assert len(got) > 0


def test_recall_audit_books_match_python_oracle_on_real_embeddings(
    spark, tmp_path
):
    """The r11 probe's audit half, independently replicated: grow the
    store on the real sf0.001 embeddings (evens), audit the odds, then
    recompute truth / cell matches / misses in PURE PYTHON from the
    loaded history and the store's own pinned centroids (the sample
    membership is read back with a direct xxhash64 expression — the
    only piece not replicable off-Spark). Pins that `truth` really is
    cell-free exact cosine, `cell_matches` really is the within-cell
    subset, and `missed` is their difference row-for-row."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    path = str(tmp_path / "store")
    embedding_store_build(
        spark, emb.filter(F.col("vec_id") % 2 == 0), path,
        eps=0.4, n_cells=8, dim=64,
    )
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    missed, summ = embedding_store_recall_audit(
        spark, odds, path, sample_rows=64, seed=0
    )
    cents = _centroids(path)
    history = {
        r.vec_id: (r.cell, tuple(float(x) for x in r.embedding))
        for r in embedding_store_load(spark, path).collect()
    }
    sample = {
        r.vec_id: tuple(float(x) for x in r.embedding)
        for r in odds.filter(
            F.exists(F.col("embedding").cast("array<double>"),
                     lambda x: x != F.lit(0.0))
        )
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(0)))
        .limit(64)
        .collect()
    }
    assert summ["sample_rows"] == len(sample) == 64
    truth, cell_hits = {}, set()
    for i, v in sample.items():
        best = None
        for _j, (hc, hv) in history.items():
            c = _cos(v, hv)
            if c >= 0.4:
                best = c if best is None else max(best, c)
                if hc == _assign(v, cents):
                    cell_hits.add(i)
        if best is not None:
            truth[i] = best
    assert summ["truth_matches"] == len(truth)
    assert summ["cell_matches"] == len(cell_hits)
    got_missed = {r.vec_id: r.best_cos for r in missed.collect()}
    assert sorted(got_missed) == sorted(set(truth) - cell_hits)
    for i, c in got_missed.items():
        assert c == pytest.approx(truth[i])
    assert summ["missed"] == len(got_missed)
    assert summ["recall"] == pytest.approx(
        (len(truth) - len(got_missed)) / len(truth) if truth else 1.0
    )


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a small vector alphabet engineered for collisions: near-parallel
# pairs (cos ~0.995), orthogonal axes, a zero vector
_VECS = [
    (1, 0, 0, 0), (0.95, 0.1, 0, 0), (0, 1, 0, 0), (0.1, 0.95, 0, 0),
    (0, 0, 1, 0), (0, 0, 0, 1), (0, 0, 0, 0), (0.5, 0.5, 0.5, 0.5),
]


@st.composite
def _emb_batches(draw):
    def batch(ids):
        return {i: draw(st.sampled_from(_VECS)) for i in ids}

    n1 = draw(st.integers(1, 5))
    n2 = draw(st.integers(1, 5))
    return batch(range(1, n1 + 1)), batch(range(100, 100 + n2))


@_SETTINGS
@given(_emb_batches())
def test_greedy_property_random_batches(spark, tmp_path_factory, data):
    """Randomized greedy-equality property (n_cells=1 — deterministic
    single cell, so the oracle needs no KMeans): build+refresh over
    random small embedding batches equals the pure-Python fold, and
    the spacing invariant holds."""
    b1, b2 = data
    path = str(tmp_path_factory.mktemp("embprop") / "s")
    embedding_store_build(
        spark, _emb_df(spark, b1), path, eps=EPS, n_cells=1, dim=DIM
    )
    embedding_store_refresh(
        spark, _emb_df(spark, b2), path, drop_known=True
    )
    cents = _centroids(path)
    got = {i: v for i, (_, v) in _loaded(spark, path).items()}
    want = _greedy([b1, b2], cents)
    assert sorted(got) == sorted(want)
    ids = sorted(got)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            assert _cos(got[ids[i]], got[ids[j]]) < EPS


def test_failed_build_sweeps_inside_claim_never_clobbers_contender(
    spark, tmp_path, monkeypatch
):
    """A build that fails mid-staging sweeps its litter while STILL
    HOLDING the writer claim (round-11 advice): a contender that lost
    the lock race is blocked for the whole sweep window, so it can
    never be mid-build when the rmtree fires. Raced here: builder A
    stalls inside staging (holding the claim), then fails and sweeps;
    builder B — started only after A is inside the claim — blocks on
    the claim, then builds and commits. B's store must come out fully
    readable, with meta referencing directories that exist."""
    import threading
    import time as _time

    from big_data_hadoop_spark.operators import embedding_store as es

    path = str(tmp_path / "s")
    inside = threading.Event()
    real_ivf = es.ivf_build
    calls = {"n": 0}

    def flaky_ivf(*a, **k):
        # first caller is A (it holds the claim before B even starts);
        # it stalls so B demonstrably blocks on the claim, then fails
        calls["n"] += 1
        if calls["n"] == 1:
            inside.set()
            _time.sleep(0.8)
            raise RuntimeError("staging failed (planted)")
        return real_ivf(*a, **k)

    monkeypatch.setattr(es, "ivf_build", flaky_ivf)
    errs: list[Exception] = []

    def build():
        try:
            embedding_store_build(
                spark, _emb_df(spark, B1), path, eps=EPS, n_cells=1,
                dim=DIM,
            )
        except Exception as exc:  # noqa: BLE001 — collected for assert
            errs.append(exc)

    a = threading.Thread(target=build)
    a.start()
    assert inside.wait(30.0)
    b = threading.Thread(target=build)
    b.start()
    a.join()
    b.join()
    # exactly A failed, with the planted error — never a sweep-induced
    # missing-directory error from B
    assert len(errs) == 1 and "planted" in str(errs[0]), errs
    got = _loaded(spark, path)
    cents = _centroids(path)
    assert sorted(got) == sorted(_greedy([B1], cents))
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["batches"] == [0]
    assert os.path.isdir(os.path.join(path, "emb", "b00000"))


def test_rebuild_validates_args_before_any_expensive_work(
    spark, tmp_path
):
    """A trivially invalid ``max_cell_rows`` refuses at function entry
    — BEFORE the full-history localCheckpoint, the KMeans refit, and
    the writer claim (round-11 advice: it previously refused only
    after the verb's most expensive work, while holding the lock)."""
    from big_data_hadoop_spark.operators import similarity as sim

    path, _ = _grow(spark, tmp_path)
    fits_before = sim.IVF_FIT_COUNT
    with pytest.raises(ValueError, match="max_cell_rows"):
        embedding_store_rebuild(spark, path, max_cell_rows=0)
    assert sim.IVF_FIT_COUNT == fits_before  # no refit was paid
    assert not os.path.exists(path + ".lock")  # no claim was taken
    # the store is untouched and still serves
    assert sorted(_loaded(spark, path))


def test_assign_cells_check_cells_rule_pinned(spark):
    """``cells`` is the p nearest centroids by squared L2, ties by
    LOWER index, ``cells[0] == cell`` always; capped at the centroid
    count; ``cell_dist2`` is the runner-up distance (NULL with one
    centroid). Pinned against the pure-Python rule directly."""
    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    rows = {
        1: (0.9, 0.2, 0.1, 0),
        2: (0.1, 2.0, 0.3, 0),
        3: (0, 0, 0, 0),          # zero vector: ties everywhere
        4: (0.5, 0.5, 0.0, 0),    # exact tie between cents 0 and 1
    }
    df = _emb_df(spark, rows)
    for p in (1, 2, 3, 7):  # 7 > k: capped at 3
        got = {
            r.vec_id: (
                r.cell,
                list(r.cells) if p > 1 else None,
                r.cell_dist,
                r.cell_dist2,
            )
            for r in assign_cells(
                df, cents, with_dist=True, check_cells=p
            ).collect()
        }
        for i, v in rows.items():
            want = _assign_p(v, cents, min(p, len(cents)))
            cell, cells, d1, d2 = got[i]
            assert cell == _assign(v, cents) == want[0]
            if p > 1:
                assert cells == want
                assert cells[0] == cell
            ranked = sorted(
                sum((x - y) * (x - y) for x, y in zip(v, c))
                for c in cents
            )
            assert d1 == pytest.approx(ranked[0])
            assert d2 == pytest.approx(ranked[1])
    # single centroid: cell_dist2 is NULL, cells degenerates to [cell]
    one = assign_cells(
        df, [cents[0]], with_dist=True, check_cells=2
    ).collect()
    for r in one:
        assert r.cell == 0 and list(r.cells) == [0]
        assert r.cell_dist2 is None


def test_check_cells_store_matches_greedy_oracle(spark, tmp_path):
    """Grown store at check_cells=2 equals the extended pure-Python
    greedy fold (reject when a stored row's home cell is in the probe
    row's checked set; within-batch pairs on the symmetric closure),
    over the store's own pinned centroids. The planted geometry
    guarantees at least one pair that ONLY p=2 catches."""
    corpus = {}
    for k in range(5):
        corpus[k] = (5.0, 3.0 + 0.01 * k, 0.0, 0.0)
        corpus[10 + k] = (5.0, -3.0 - 0.01 * k, 0.0, 0.0)
    path = str(tmp_path / "s")
    st0 = embedding_store_build(
        spark, _emb_df(spark, corpus), path, eps=0.99, n_cells=2,
        dim=DIM, check_cells=2,
    )
    cents = _centroids(path)
    assert len(cents) == 2
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["check_cells"] == 2
    # straddling pair: h on one side of the midplane, b on the other,
    # cos(h, b) ~ 1 — at p=1 both would be accepted (different home
    # cells); at p=2 the refresh must reject b against stored h
    import numpy as np

    c0, c1 = np.array(cents[0]), np.array(cents[1])
    m = (c0 + c1) / 2.0
    d = (c1 - c0) / np.linalg.norm(c1 - c0)
    h, b = (m - 0.2 * d).tolist(), (m + 0.2 * d).tolist()
    assert _cos(h, b) >= 0.99 and _assign(h, cents) != _assign(b, cents)
    st1 = embedding_store_refresh(spark, _emb_df(spark, {50: h}), path)
    st2 = embedding_store_refresh(spark, _emb_df(spark, {60: b}), path)
    assert st1["accepted"] == 1 and st2["accepted"] == 0
    assert st2["rejected_history"] == 1  # the p=2 catch
    got = {i: v for i, (_, v) in _loaded(spark, path).items()}
    want = _greedy(
        [corpus, {50: h}, {60: b}], cents, eps=0.99, p=2
    )
    assert sorted(got) == sorted(want)
    # stats still add up under the new rule
    for st, n in ((st0, len(corpus)), (st1, 1), (st2, 1)):
        assert (
            st["accepted"] + st["rejected_history"]
            + st["rejected_within_batch"] + st["zero_norm"] == n
        )
    # matches read path honors pinned p: b is a match, a far row isn't
    probe = {70: b, 71: (0.0, 0.0, 9.0, 0.0)}
    hits = embedding_store_matches(spark, _emb_df(spark, probe), path)
    assert [r.vec_id for r in hits.collect()] == [70]
    # within-batch symmetric closure: h and b in ONE batch collapse to
    # min id even though they live in different home cells
    path2 = str(tmp_path / "s2")
    embedding_store_build(
        spark, _emb_df(spark, corpus), path2, eps=0.99, n_cells=2,
        dim=DIM, check_cells=2, seed=42,
    )
    cents2 = _centroids(path2)
    st3 = embedding_store_refresh(
        spark, _emb_df(spark, {50: h, 60: b}), path2
    )
    assert st3["rejected_within_batch"] >= 1
    got2 = {i: v for i, (_, v) in _loaded(spark, path2).items()}
    assert sorted(got2) == sorted(
        _greedy([corpus, {50: h, 60: b}], cents2, eps=0.99, p=2)
    )


def test_check_cells_monotone_matches_and_exact_at_full_probe(
    spark, tmp_path
):
    """On one store/history, raising check_cells can only ADD matches
    (checked sets are nested), and p = n_cells equals the cell-free
    exact verdict — the mathematical guarantees behind 'the knob buys
    recall back'. Run on the real sf0.001 embeddings at the audit's
    loose eps=0.4 where round 11 measured the misses."""
    from big_data_hadoop_spark.operators.embedding_store import (
        _matches,
        _truth_frame,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    path = str(tmp_path / "s")
    embedding_store_build(
        spark, emb.filter(F.col("vec_id") % 2 == 0), path,
        eps=0.4, n_cells=8, dim=64,
    )
    cents = _centroids(path)
    history = embedding_store_load(spark, path)
    sample = emb.filter(F.col("vec_id") % 2 == 1).limit(
        64
    ).localCheckpoint(eager=True)
    prev: set = set()
    sizes = []
    for p in (1, 2, 4, 8):
        hit = {
            r.vec_id
            for r in _matches(
                assign_cells(sample, cents, check_cells=p),
                history, 0.4, 64, "vec_id", "embedding",
                check_cells=p,
            ).collect()
        }
        assert prev <= hit, f"p={p} lost matches"
        prev = hit
        sizes.append(len(hit))
    truth = {
        r.vec_id
        for r in _truth_frame(
            sample, history, 0.4, 64, "vec_id", "embedding"
        ).collect()
    }
    assert prev == truth  # p = n_cells degrades to exact
    assert sizes[0] < sizes[-1]  # the knob measurably buys matches here


def test_boundary_frac_pinned_against_python_recount(spark, tmp_path):
    """``boundary_frac`` (fraction of usable batch rows whose
    runner-up centroid sits within BOUNDARY_MARGIN of the winner,
    squared L2) equals a pure-Python recount over the store's pinned
    centroids — in build AND refresh stats; 0.0 with one centroid."""
    from big_data_hadoop_spark.operators.embedding_store import (
        BOUNDARY_MARGIN,
    )

    def frac(rows, cents):
        vals = []
        for v in rows.values():
            if not any(x != 0 for x in v):
                continue  # zero-norm rows are dropped pre-assignment
            d = sorted(
                sum((x - y) * (x - y) for x, y in zip(v, c))
                for c in cents
            )
            vals.append(
                1.0 if len(d) > 1 and d[1] <= (1 + BOUNDARY_MARGIN) * d[0]
                else 0.0
            )
        return sum(vals) / len(vals) if vals else None

    corpus = {}
    for k in range(4):
        corpus[k] = (5.0, 3.0 + 0.1 * k, 0.0, 0.0)
        corpus[10 + k] = (5.0, -3.0 - 0.1 * k, 0.0, 0.0)
    corpus[21] = (0, 0, 0, 0)  # zero-norm: excluded from the frac
    path = str(tmp_path / "s")
    st0 = embedding_store_build(
        spark, _emb_df(spark, corpus), path, eps=0.99, n_cells=2,
        dim=DIM,
    )
    cents = _centroids(path)
    assert st0["boundary_frac"] == pytest.approx(frac(corpus, cents))
    # the refresh batch plants a TRUE straddler constructed FROM the
    # pinned centroids (midpoint -> d1 == d2, inside any margin) and a
    # row AT centroid 0 (d1 == 0 < d2 — never boundary): frac = 1/2
    import numpy as np

    c0, c1 = np.array(cents[0]), np.array(cents[1])
    mid = tuple(((c0 + c1) / 2.0).tolist())
    batch = {30: mid, 31: tuple(float(x) for x in cents[0])}
    st1 = embedding_store_refresh(spark, _emb_df(spark, batch), path)
    assert st1["boundary_frac"] == pytest.approx(frac(batch, cents))
    assert st1["boundary_frac"] == pytest.approx(0.5)
    # single-cell store: no second cell to straddle into -> 0.0
    one = str(tmp_path / "one")
    s = embedding_store_build(
        spark, _emb_df(spark, B1), one, eps=EPS, n_cells=1, dim=DIM
    )
    assert s["boundary_frac"] == 0.0


def test_rebuild_changes_check_cells_row_identical_to_fresh_build(
    spark, tmp_path
):
    """``rebuild(check_cells=p)`` re-litigates the accepted history
    under the new rule exactly as a fresh build at p would, pins the
    new p in meta, and subsequent refreshes judge at p."""
    corpus = {}
    for k in range(5):
        corpus[k] = (5.0, 3.0 + 0.01 * k, 0.0, 0.0)
        corpus[10 + k] = (5.0, -3.0 - 0.01 * k, 0.0, 0.0)
    path = str(tmp_path / "s")
    embedding_store_build(
        spark, _emb_df(spark, corpus), path, eps=0.99, n_cells=2,
        dim=DIM,
    )
    cents = _centroids(path)
    import numpy as np

    c0, c1 = np.array(cents[0]), np.array(cents[1])
    m, d = (c0 + c1) / 2.0, (c1 - c0) / np.linalg.norm(c1 - c0)
    h, b = (m - 0.2 * d).tolist(), (m + 0.2 * d).tolist()
    # at the pinned p=1 BOTH straddlers are accepted (different homes)
    embedding_store_refresh(spark, _emb_df(spark, {50: h}), path)
    st = embedding_store_refresh(spark, _emb_df(spark, {60: b}), path)
    assert st["accepted"] == 1
    history = {i: v for i, (_, v) in _loaded(spark, path).items()}
    st_r = embedding_store_rebuild(spark, path, check_cells=2)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["check_cells"] == 2
    new_cents = meta["centroids"]
    got = {i: v for i, (_, v) in _loaded(spark, path).items()}
    want = _greedy([history], new_cents, eps=0.99, p=2)
    assert sorted(got) == sorted(want)
    # the straddling pair collapsed under the new rule: 60 is gone
    assert 50 in got and 60 not in got
    assert st_r["rejected_within_batch"] >= 1
    # default rebuild keeps the pinned p
    embedding_store_rebuild(spark, path)
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["check_cells"] == 2
    with pytest.raises(ValueError, match="check_cells"):
        embedding_store_rebuild(spark, path, check_cells=0)
    with pytest.raises(ValueError, match="check_cells"):
        embedding_store_build(
            spark, _emb_df(spark, B1), str(tmp_path / "bad"),
            dim=DIM, check_cells=0,
        )


def test_streaming_sink_health_log_equals_sequential_control(
    spark, tmp_path
):
    """``stats_path``: the streaming sink disclosing per-micro-batch
    refresh stats (occupancy, drift, zero-norm/rejected counts,
    boundary_frac) must report EXACTLY what the sequential batch verbs
    report on an identical control store fed the same batches — the
    batch verbs' health surface, streaming edition. Replays append new
    attempt rows (accepted 0) instead of mutating the log."""
    from big_data_hadoop_spark.streaming.pipelines import (
        streaming_embedding_dedup,
    )

    src = str(tmp_path / "src")
    _emb_df(spark, B2).write.parquet(src)
    B3 = {20: (0, 0, 0.99, 0.05), 21: (0.5, 0.5, 0.5, 0.5)}
    _emb_df(spark, B3).write.mode("append").parquet(src)
    path, control = str(tmp_path / "store"), str(tmp_path / "control")
    for p in (path, control):  # n_cells=1: both stores judge alike
        embedding_store_build(
            spark, _emb_df(spark, B1), p, eps=EPS, n_cells=1, dim=DIM
        )
    stats_path = str(tmp_path / "health")
    schema = "vec_id long, embedding array<double>"
    q = streaming_embedding_dedup(
        spark.readStream.schema(schema).parquet(src),
        path, str(tmp_path / "ckpt1"), stats_path=stats_path,
    )
    q.awaitTermination(180)
    log = [
        json.loads(r.stats)
        for r in spark.read.parquet(stats_path).orderBy("epoch").collect()
    ]
    assert log, "no health rows written"
    # replay the SAME batching through the sequential control verbs
    # (availableNow may fold the two files into one or two batches —
    # the log row count tells us which)
    batches = [B2, B3] if len(log) == 2 else [{**B2, **B3}]
    assert len(log) == len(batches)
    for row, batch in zip(log, batches):
        want = embedding_store_refresh(
            spark, _emb_df(spark, batch), control,
            drop_known=True, validate_ids=False,
        )
        assert row == want, (row, want)
        assert "boundary_frac" in row and "hot_cell_rows" in row
    # replayed stream (fresh checkpoint): the log gains attempt rows
    # reporting accepted 0 — an honest per-attempt record, not state
    q2 = streaming_embedding_dedup(
        spark.readStream.schema(schema).parquet(src),
        path, str(tmp_path / "ckpt2"), stats_path=stats_path,
    )
    q2.awaitTermination(180)
    log2 = [
        json.loads(r.stats) for r in spark.read.parquet(stats_path).collect()
    ]
    assert len(log2) > len(log)
    assert all(r["accepted"] == 0 for r in log2 if r not in log)


def test_recall_sweep_books_equal_single_p_audits(spark, tmp_path):
    """``embedding_store_recall_sweep`` (truth computed once, verdict
    re-run per p) must report exactly the single-p audit's books at
    every probed width — same sample, same truth, same verdict
    machinery; also monotone by the nested-checked-set guarantee."""
    from big_data_hadoop_spark.operators.embedding_store import (
        embedding_store_recall_sweep,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    path = str(tmp_path / "s")
    embedding_store_build(
        spark, emb.filter(F.col("vec_id") % 2 == 0), path,
        eps=0.4, n_cells=8, dim=64, validate_ids=False,
    )
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    sweep = embedding_store_recall_sweep(
        spark, odds, path, check_cells=(8, 1, 2, 2), sample_rows=64
    )
    assert [s["check_cells"] for s in sweep] == [1, 2, 8]  # dedup+sort
    prev = -1.0
    for s in sweep:
        _missed, single = embedding_store_recall_audit(
            spark, odds, path, sample_rows=64,
            check_cells=s["check_cells"],
        )
        single.pop("missed_max_cos")  # sweep omits the miss evidence
        assert s == single, (s, single)
        assert s["recall"] >= prev
        prev = s["recall"]
    assert sweep[-1]["recall"] == 1.0  # p = n_cells: exact
    with pytest.raises(ValueError, match="check_cells"):
        embedding_store_recall_sweep(spark, odds, path, check_cells=(0,))
