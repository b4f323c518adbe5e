"""Value verification for SemDeDup-style semantic dedup
(``similarity.semantic_neardup_pairs`` / ``semantic_dedup``).

The cell partition comes from the operator's own (seeded, deterministic)
IVF build; given that assignment, the within-cell pair set and the
surviving-id set are recomputed independently in numpy / union-find and
compared exactly — the same strategy as the q52/q53 ANN value tests.
With a single cell the operator must equal the exact brute-force pair
operator; with many cells it must emit exactly the subset of exact pairs
that share a cell.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.similarity import (
    cosine_neardup_pairs,
    ivf_build,
    semantic_dedup,
    semantic_neardup_pairs,
)
from big_data_hadoop_spark.sources.io import load_table

SF_SMOKE = "/root/testdata/sf0.001"
EPS = 0.4


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _exact_pairs(emb_rows, eps):
    ids = sorted(emb_rows)
    out = set()
    for i, a in enumerate(ids):
        va = emb_rows[a]
        na = np.linalg.norm(va)
        for b in ids[i + 1 :]:
            vb = emb_rows[b]
            nb = np.linalg.norm(vb)
            if na > 0 and nb > 0 and float(va @ vb) / (na * nb) >= eps:
                out.add((a, b))
    return out


def _rows(emb):
    return {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }


def test_single_cell_equals_brute_force(spark, emb):
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_neardup_pairs(emb, eps=EPS, n_cells=1).collect()
    }
    assert got == _exact_pairs(_rows(emb), EPS)


def test_multi_cell_pairs_are_cell_restricted_exact(spark, emb):
    index = ivf_build(emb, n_cells=8)
    cells = {
        r["vec_id"]: r["cell"] for r in index.assigned.collect()
    }
    expect = {
        (a, b)
        for a, b in _exact_pairs(_rows(emb), EPS)
        if cells[a] == cells[b]
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_neardup_pairs(emb, eps=EPS, index=index).collect()
    }
    assert got == expect
    # sims themselves match numpy to fp tolerance
    rows = _rows(emb)
    for r in semantic_neardup_pairs(emb, eps=EPS, index=index).collect():
        va, vb = rows[r["id_a"]], rows[r["id_b"]]
        ref = float(va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert r["sim"] == pytest.approx(ref, abs=1e-9)


def test_dedup_action_keeps_min_id_per_component(spark, emb):
    index = ivf_build(emb, n_cells=8)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_neardup_pairs(emb, eps=EPS, index=index).collect()
    }
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    all_ids = set(_rows(emb))
    losers = {x for x in all_ids if find(x) != x}
    got = {
        r["vec_id"]
        for r in semantic_dedup(emb, eps=EPS, index=index).collect()
    }
    assert got == all_ids - losers
    assert len(got) < len(all_ids)  # the threshold actually bites


def test_flat_path_matches_array_path(spark, emb):
    """The dim-flattened fast path selects the same pairs as the HOF
    array path and sims agree to fp tolerance (association order is
    identical by construction, but the paths build different plans)."""
    index = ivf_build(emb, n_cells=8)
    arr = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in semantic_neardup_pairs(emb, eps=EPS, index=index).collect()
    }
    flat = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in semantic_neardup_pairs(
            emb, eps=EPS, index=index, dim=64
        ).collect()
    }
    assert set(arr) == set(flat)
    for k in arr:
        assert flat[k] == pytest.approx(arr[k], abs=1e-12)


def test_zero_norm_vectors_never_pair(spark):
    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.0]),
            (4, [1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_neardup_pairs(df, eps=0.9, n_cells=1).collect()
    }
    assert got == {(3, 4)}


def test_semantic_subset_of_exact(spark, emb):
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_neardup_pairs(emb, threshold=EPS).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in semantic_neardup_pairs(emb, eps=EPS, n_cells=8).collect()
    }
    assert approx <= exact


def test_exact_pairs_skip_zero_vector_without_dim(spark):
    """A corpus holding an all-zero vector: the array path (no ``dim``)
    drops it like the flat path does, instead of failing the whole call
    with ``DIVIDE_BY_ZERO`` under ANSI; both paths return the same rows,
    sims equal bit for bit."""
    rows = [
        (i, [0.0] * 6 if i == 3 else [float(np.sin(i * 7 + j)) for j in range(6)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(**kw):
        return sorted(
            (r.vec_a, r.vec_b, r.sim.hex())
            for r in cosine_neardup_pairs(df, threshold=0.3, **kw).collect()
        )

    flat = pairs(dim=6)
    assert flat and all(3 not in p[:2] for p in flat)
    assert pairs() == flat
